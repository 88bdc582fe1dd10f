package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID, quality scoring, token counting, fingerprinting.
  *
  * All pure `Column` programs (single scan, no shuffle except the
  * fingerprint fold which stays map-side): at 100 TB these run as one
  * whole-stage-codegen'd projection per partition. Heuristics use only
  * engine-agnostic primitives (literal replace, length, ascii) so the
  * DuckDB oracle can replicate them bit-for-bit.
  */
object TextAnalysis {

  /** occurrences of literal `pat` in `c` via length difference. */
  private def cnt(c: Column, pat: String): Column =
    (length(c) - length(replace(c, lit(pat), lit("")))) / pat.length

  /** Language-ID by stopword-profile scoring. Real pipelines use
    * char-n-gram models (e.g. fastText); the engine shape is identical:
    * per-doc scores + deterministic argmax, one scan, fully codegen'd.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val t = concat(lit(" "), col("text"), lit(" "))
    val sEn = cnt(t, " the ") + cnt(t, " and ") + cnt(t, " of ")
    val sFr = cnt(t, " le ") + cnt(t, " la ") + cnt(t, " et ")
    val sDe = cnt(t, " der ") + cnt(t, " und ") + cnt(t, " die ")
    val sEs = cnt(t, " el ") + cnt(t, " los ") + cnt(t, " y ")
    val pred = when(sEn >= sFr && sEn >= sDe && sEn >= sEs && sEn > 0, "en")
      .when(sFr >= sDe && sFr >= sEs && sFr > 0, "fr")
      .when(sDe >= sEs && sDe > 0, "de")
      .when(sEs > 0, "es")
      .otherwise("und")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang").as("declared_lang"),
        pred.as("pred_lang"),
        sEn.cast("long").as("score_en"), sFr.cast("long").as("score_fr"),
        sDe.cast("long").as("score_de"), sEs.cast("long").as("score_es"))
  }

  /** Evaluation of the lang-ID heuristic itself: the confusion matrix
    * of predicted vs declared language plus each cell's share of its
    * declared row — the accuracy report a pipeline publishes before
    * trusting the classifier as a routing gate (completes the
    * evaluator family: IVF recall, minhash calibration, this).
    * One scan + one tiny (declared, pred) aggregate; the 5-row
    * per-declared totals broadcast back. */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val cm = langId(spark, sfDir)
      .groupBy(col("declared_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val tot = cm.groupBy(col("declared_lang")).agg(sum(col("n")).as("t"))
    cm.join(broadcast(tot), "declared_lang")
      .select(col("declared_lang"), col("pred_lang"), col("n"),
        PortableRound.pround(col("n").cast("double") / col("t"), 4).as("frac"))
  }

  /** The raw (unrounded) combined quality score — shared by the
    * per-doc rounded column and the exact micro-unit aggregate form. */
  private def qualityRawCol: Column = {
    val words = split(col("text"), " ")
    val nWords = size(words).cast("double")
    val t = concat(lit(" "), col("text"), lit(" "))
    val stopHits = cnt(t, " the ") + cnt(t, " a ") + cnt(t, " of ") + cnt(t, " and ")
    val nChars = length(col("text")).cast("double")
    val avgWordLen = (nChars - (nWords - 1)) / nWords
    val distinctRatio = size(array_distinct(words)).cast("double") / nWords
    val stopRatio = stopHits / nWords
    when(avgWordLen.between(3.0, 10.0), 0.4).otherwise(0.0) +
      least(stopRatio * lit(2.0), lit(0.3)) +
      least(distinctRatio, lit(0.3))
  }

  /** The combined Gopher/C4-style quality score as a reusable Column
    * over any frame with a `text` column — shared by the
    * [[qualityScore]] query and the corpus quality-decile split, so
    * both score identically by construction. */
  def qualityScoreCol: Column =
    PortableRound.pround(qualityRawCol, 4)

  /** The same score in EXACT INTEGER micro-units (×10⁴): the form a
    * cross-document aggregate must sum — long addition is associative,
    * so the mean is bit-identical under any partitioning, where a
    * double sum's rounding would depend on accumulation order. */
  def qualityMicroCol: Column =
    floor(qualityRawCol * 10000 + 0.5).cast("long")

  /** Quality scoring: length / stopword / repetition features with a
    * combined score — the shape of Gopher/C4-style quality filters. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(words).cast("double")
    val t = concat(lit(" "), col("text"), lit(" "))
    val stopHits = cnt(t, " the ") + cnt(t, " a ") + cnt(t, " of ") + cnt(t, " and ")
    val nChars = length(col("text")).cast("double")
    val avgWordLen = (nChars - (nWords - 1)) / nWords
    val distinctRatio = size(array_distinct(words)).cast("double") / nWords
    val stopRatio = stopHits / nWords
    val score = qualityScoreCol
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        nWords.cast("long").as("n_words"),
        PortableRound.pround(avgWordLen, 4).as("avg_word_len"),
        PortableRound.pround(distinctRatio, 4).as("distinct_ratio"),
        PortableRound.pround(stopRatio, 4).as("stop_ratio"),
        score.as("quality_score"))
  }

  /** READABILITY SCORING (Flesch 1948 / Kincaid et al. 1975) — the
    * classic document-difficulty features next to [[qualityScore]]'s
    * Gopher/C4 heuristics: Flesch Reading Ease and Flesch–Kincaid
    * grade level per document, in EXACT INTEGER milli-units so both
    * engines agree bit-for-bit (the published coefficients ×1000,
    * each ratio as a nonnegative integer DIV before the signed
    * combination — no float anywhere):
    *
    *   flesch_milli = 206835 − (1015·W) DIV S − (84600·Y) DIV W
    *   fk_grade_milli = (390·W) DIV S + (11800·Y) DIV W − 15590
    *
    * with W whitespace words, S sentence marks (`.!?`, floored at 1),
    * and Y the standard vowel-group syllable proxy (maximal
    * `[aeiouy]+` runs — the heuristic every readability library uses
    * when no pronunciation dictionary is available). A CEFR-ish band
    * label buckets the Flesch score for routing.
    *
    * Scale: one scan, fully codegen'd Column program — no shuffle, no
    * UDF; the regex stays in the RE2 subset the oracle replicates. */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val w = size(split(col("text"), " ")).cast("long")
    def c1(p: String): Column =
      (length(col("text")) - length(replace(col("text"), lit(p), lit("")))).cast("long")
    val s = greatest(c1(".") + c1("!") + c1("?"), lit(1L))
    val y = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), w.as("n_words"), s.as("n_sentences"),
        y.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_milli", expr(
        "206835 - (1015 * n_words) DIV n_sentences - (84600 * n_syllables) DIV n_words"))
      .withColumn("fk_grade_milli", expr(
        "(390 * n_words) DIV n_sentences + (11800 * n_syllables) DIV n_words - 15590"))
      .withColumn("band", expr(
        """CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
          |WHEN flesch_milli >= 70000 THEN 'easy'
          |WHEN flesch_milli >= 50000 THEN 'medium'
          |WHEN flesch_milli >= 30000 THEN 'hard'
          |ELSE 'very_hard' END""".stripMargin))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letters / single digits / punctuation as separate tokens). */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]")).as("bpe_ish_tokens"),
        col("n_chars"))

  /** PII redaction: emails, IPv4 addresses, and long digit runs are
    * masked with typed placeholders — the standard scrub pass before
    * training-data release. Pure regexp_replace chain, single scan, no
    * UDF; the regexes stay in the RE2-compatible subset so the engine
    * and the DuckDB oracle agree. The synthetic contact line makes the
    * redaction observable on the wordlist-only test corpus. */
  def redactPii(spark: SparkSession, sfDir: String): DataFrame = {
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from 10.1."), (col("doc_id") % 256).cast("string"),
      lit(".7 id "), lpad(col("doc_id").cast("string"), 8, "0"), lit("77"))
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val digitRun = "\\b[0-9]{8,}\\b"
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(withPii, email, "<EMAIL>"),
        ipv4, "<IP>"),
      digitRun, "<NUM>")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), redacted.as("redacted"),
        (length(withPii) - length(redacted)).as("chars_removed"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 shape):
    * per-document duplicate-word instance fraction, the character
    * fraction covered by the single most frequent word-bigram, and the
    * duplicate-trigram instance fraction. Heavily repeated boilerplate
    * (nav bars, templated spam) scores high on all three.
    *
    * Scale shape: ONE scan, fully codegen'd and NARROW up to the
    * single (doc_id, g, gram)-keyed count (map-side combine): words
    * posexplode, the bi/tri-grams derive from `element_at(w, pos+k)`
    * (plain codegen'd expressions — a `transform` HOF here is
    * interpreted per element and measured 2.5× slower), and `stack`
    * unpivots the three gram sizes without a second pass. The per-doc
    * rollup then re-aggregates on doc_id with conditional aggregates.
    * The top-bigram pick is `max(struct(cnt, gram))` — deterministic
    * (count, then lexicographically largest gram on ties) and
    * identical to DuckDB's struct max ordering.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("w"))
      .withColumn("n_words", size(col("w")))
    val ex = docs
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("w"),
        posexplode_outer(col("w")).as(Seq("pos", "u")))
      .select(col("doc_id"), col("n_chars"),
        expr("stack(3, 1, u, " +
          "2, CASE WHEN pos + 2 <= n_words THEN concat(u, ' ', element_at(w, pos + 2)) END, " +
          "3, CASE WHEN pos + 3 <= n_words THEN concat(u, ' ', element_at(w, pos + 2), ' ', element_at(w, pos + 3)) END" +
          ") as (g, gram)"))
      .filter(col("gram").isNotNull)
    val counted = ex.groupBy(col("doc_id"), col("g"), col("gram"))
      .agg(count(lit(1)).as("cnt"),
        first(col("n_chars")).as("n_chars"))
    // One per-doc rollup with conditional aggregates instead of a
    // (doc,g) stage then a (doc) stage — same results, one less
    // shuffle (both would re-key anyway; conditional sums/maxes fold
    // the per-gram-size split into the aggregate functions).
    val byDoc = counted.groupBy(col("doc_id")).agg(
      (sum(when(col("g") === 1 && col("cnt") > 1, col("cnt")).otherwise(0L))
        .cast("double") / sum(when(col("g") === 1, col("cnt")).otherwise(0L))).as("dw"),
      max(when(col("g") === 2, struct(col("cnt"), col("gram")))).as("topbi"),
      when(sum(when(col("g") === 3, col("cnt")).otherwise(0L)) > 0,
        sum(when(col("g") === 3 && col("cnt") > 1, col("cnt")).otherwise(0L))
          .cast("double") / sum(when(col("g") === 3, col("cnt")).otherwise(0L))).as("dt"),
      first(col("n_chars")).as("n_chars"))
      .select(col("doc_id"), col("dw"),
        col("topbi.gram").as("top_bigram_raw"),
        ((col("topbi.cnt") * length(col("topbi.gram"))).cast("double") / col("n_chars")).as("tb"),
        col("dt"))
    byDoc.select(col("doc_id"),
      PortableRound.pround(coalesce(col("dw"), lit(0.0)), 4).as("dup_word_frac"),
      coalesce(col("top_bigram_raw"), lit("")).as("top_bigram"),
      PortableRound.pround(coalesce(col("tb"), lit(0.0)), 4).as("top_bigram_char_frac"),
      PortableRound.pround(coalesce(col("dt"), lit(0.0)), 4).as("dup_trigram_frac"))
  }

  /** TF-IDF top-k terms per document, with a RATIONAL idf
    * (BM25-shaped `(N - df + 0.5) / (df + 0.5)` instead of its log):
    * monotone in df like the classic form, but free of transcendental
    * functions, so the score is bit-identical across engines and the
    * DuckDB oracle can rank on the RAW double (ties broken by term).
    *
    * Scale shape: tf = one (doc_id, term) count with map-side combine;
    * df = a second count over the already-collapsed tf rows; the
    * tf⋈df equi-join shuffles on term (Zipf head skew is AQE
    * skew-join territory at 100 TB); N arrives as a broadcast
    * single-row aggregate, never a driver-side collect. */
  def tfidfTopTerms(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val tf = docs.select(col("doc_id"), explode_outer(col("w")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dft, "term").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        PortableRound.pround(col("score"), 4).as("score"))
  }

  /** Feature-hashed document embedding (the hashing trick): each word
    * hashes to a dimension in [0, dims) with a ±1 sign from the next
    * hash bits; the doc's sparse embedding is the signed count per
    * dimension. Bridges raw text into the ANN/centroid family without
    * a model. All INTEGER arithmetic (portable hash, floor-div, signed
    * sum) — exact, order-independent, so the oracle matches without
    * any rounding discipline. Single scan + one (doc, dim)-keyed count
    * with map-side combine; emitted sparse (zero dims omitted), the
    * 100 TB-friendly layout. */
  def hashEmbed(spark: SparkSession, sfDir: String, dims: Int = 64): DataFrame = {
    val h = graft.functions.PortableHash.md5Hash48(col("w"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), pmod(h, lit(dims)).as("dim"),
        // h < 2^48 so h/dims is exact in double; cast truncates = floor
        // for non-negative h — same as DuckDB's // floor-division
        (pmod((h / lit(dims)).cast("long"), lit(2)) * 2 - 1).as("sign"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** Document fingerprinting: position-weighted rolling hash over words,
    * engine-agnostic word hash (length/ascii arithmetic). Single scan,
    * map-side array fold — no shuffle, no UDF.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val words = split(col("text"), " ")
    def wordHash(w: Column): Column =
      length(w).cast("long") * 31L + ascii(substring(w, 1, 1)).cast("long") +
        ascii(substring(w, -1, 1)).cast("long") * 7L
    val fp = pmod(
      aggregate(
        zip_with(words, sequence(lit(1), size(words)),
          (w, i) => wordHash(w) * i.cast("long")),
        lit(0L), (acc, x) => acc + x),
      lit(1000000007L))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fp.as("fingerprint"))
  }

  /** Model-based quality scoring — the fastText-shaped linear
    * classifier pass (hash every token into `buckets` features, dot
    * the term frequencies with a weight vector, threshold): the
    * standard learned quality gate run over a whole crawl before
    * training. The weight vector here is derived from a seeded hash
    * (a deterministic stand-in for learned parameters — in production
    * the weights arrive as a broadcast array; the plan is identical).
    *
    * Everything stays in INTEGER space (milli-weights in
    * [-1000, 1000], exact long sums), so the score is bit-identical
    * across engines and partition orders — no float summation order
    * to disagree on. Scale shape: narrow scan + explode + ONE
    * (doc_id)-keyed aggregate with map-side combine; weights are
    * computed per-token (pure hash arithmetic, codegen'd), so there
    * is no weight-table join at all. */
  def qualityModelScore(spark: SparkSession, sfDir: String,
      buckets: Int = 1024): DataFrame = {
    import graft.functions.PortableHash.md5Hash48
    val bucket = pmod(md5Hash48(concat(lit("qw:"), col("w"))), lit(buckets))
    val weightMilli = md5Hash48(concat(lit("w:"), bucket.cast("string"))) % 2001L - 1000L
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), weightMilli.as("wm"))
      .groupBy(col("doc_id"))
      .agg(sum(col("wm")).as("score_milli"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("score_milli"),
        (col("score_milli") > 0).as("keep"), col("n_tokens"))
  }

  /** QUALITY-SCORER AGREEMENT — the evaluation every filter swap
    * needs before re-running a corpus: Pearson correlation between the
    * heuristic quality score and the hashed-linear model score, plus
    * top-k set overlap under each ranking (correlation can be high
    * while the HEADS — what a quality gate actually keeps — disagree).
    * Both scores aggregate as EXACT integer sums (micro/milli units);
    * the correlation converts the six exact aggregates to double once
    * and uses only IEEE-specified ops (+,−,×,÷,sqrt — no libm pow),
    * so the rounded r is engine-portable.
    *
    * Scale: one join of the two per-doc score tables (same doc_id
    * shuffle), ONE map-side-combined moment aggregate (6 longs of
    * state), and two DISTRIBUTED top-k's (TakeOrderedAndProject —
    * never a global sort) whose k-row results join broadcast-sized.
    * The long moments hold to ~10⁸ docs; widen to decimal(38,0)
    * beyond (same trade the k-means notes document). */
  def qualityAgreement(spark: SparkSession, sfDir: String,
      topK: Int = 50): DataFrame = {
    val x = Tables.documents(spark, sfDir)
      .select(col("doc_id"), qualityMicroCol.as("x"))
    val y = qualityModelScore(spark, sfDir)
      .select(col("doc_id"), col("score_milli").as("y"))
    val j = x.join(y, "doc_id").localCheckpoint(eager = false)
    val s = j.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
    val tq = j.orderBy(col("x").desc, col("doc_id")).limit(topK).select("doc_id")
    val tm = j.orderBy(col("y").desc, col("doc_id")).limit(topK)
      .select(col("doc_id").as("d2"))
    val overlap = tq.join(tm, col("doc_id") === col("d2"))
      .agg(count(lit(1)).as("topk_overlap"))
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    // Pearson is UNDEFINED when either score has zero variance — a
    // real corpus state, not a corner case (the zipf arm scores every
    // doc an identical heuristic x: no stopwords, distinct-ratio
    // capped — under ANSI the 0/0 is a runtime error). The
    // POSITIVITY test runs on decimal(38,0) (HUGEINT in
    // the oracle) so it stays exact past 2^53, where a double-rounded
    // n·sxx − sx² could land on the wrong side of zero;
    // only the defined-branch value math is double.
    // HEADROOM: Spark caps the decimal product at
    // precision 38, so under ANSI the n·sxx term itself overflows —
    // a runtime error again — once n·sxx ≥ 1e38. With x ≤ 1e6 micro
    // and y ≤ 1e3 milli, sxx ≤ n·1e12, so the bound is n ≥ ~1e13
    // DOCS (five decades past the ~10^8-doc note above, and DuckDB's
    // HUGEINT side would itself wrap at ~1.7e38 soon after). A corpus
    // beyond that must pre-aggregate per shard before this evaluator.
    def i(c: String) = col(c).cast("decimal(38,0)")
    val varXi = i("n") * i("sxx") - i("sx") * i("sx")
    val varYi = i("n") * i("syy") - i("sy") * i("sy")
    val varX = nD * d("sxx") - d("sx") * d("sx")
    val varY = nD * d("syy") - d("sy") * d("sy")
    s.crossJoin(broadcast(overlap))
      .select(col("n").as("n_docs"),
        when(varXi > 0 && varYi > 0,
          PortableRound.pround(
            (nD * d("sxy") - d("sx") * d("sy")) / sqrt(varX * varY), 4))
          .as("pearson_r"),
        lit(topK.toLong).as("topk"), col("topk_overlap"),
        PortableRound.pround(col("topk_overlap") * 100.0 / topK, 4)
          .as("overlap_pct"))
  }

  /** Character-level diversity over the first `prefixLen` chars — the
    * standard cheap gibberish/boilerplate gate (binary blobs and
    * keyboard-mash have tiny alphabets; repeated-padding spam has a
    * Simpson index near 1). The collision probability Σc²/n² is kept
    * as exact integers (`sum_sq`, `n_sampled`) with only the final
    * ratio rounded, so the DuckDB oracle matches bit-for-bit.
    *
    * Scale shape: the explode is BOUNDED by the prefix (≤256 rows/doc
    * regardless of document size — same trick as the context-window
    * manifest), and the (doc_id, char) count collapses map-side into
    * ≤ alphabet rows per doc before the one real shuffle. */
  def charDiversity(spark: SparkSession, sfDir: String,
      prefixLen: Int = 256): DataFrame = {
    val chars = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(substring(col("text"), 1, prefixLen), "")).as("c"))
      .filter(col("c") =!= "") // Java split keeps one trailing ""
    chars.groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("alphabet"),
        sum(col("cnt")).as("n_sampled"),
        sum(col("cnt") * col("cnt")).as("sum_sq"))
      .select(col("doc_id"), col("alphabet"), col("n_sampled"), col("sum_sq"),
        PortableRound.pround(col("sum_sq").cast("double") /
          (col("n_sampled") * col("n_sampled")), 6).as("simpson"))
  }

  /** N-gram novelty: the fraction of a document's distinct 3-grams
    * whose corpus-wide FIRST occurrence (min doc_id = ingestion order)
    * is this document — a diversity/contribution score used to
    * prioritize genuinely new material over boilerplate recombination.
    * Same shingles as the dedup family ([[Dedup.withShingles]]).
    *
    * Scale shape: the shingle pipeline is evaluated ONCE and the gram
    * rows localCheckpoint'ed — per-doc totals (`n_grams` = size(sh)
    * rides through the explode) and per-gram first owners then
    * aggregate off the SAME materialized rows, and the only join is
    * doc-keyed (corpus-count rows on both sides, never the gram
    * space). Both branches re-deriving the interpreted shingle
    * transform measured 4–10 s at sf0.1 vs 0.8–1.2 s checkpointed;
    * the explode carries the InferFiltersFromGenerate guard
    * (explode_outer + isNotNull, see [[Dedup.ngramJaccardTopPairs]]). */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Dedup.withShingles(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("sh"))
    val grams = docs.select(col("doc_id"),
        size(col("sh")).cast("long").as("n_grams"),
        explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
      .localCheckpoint()
    val perDoc = grams.groupBy(col("doc_id")).agg(max(col("n_grams")).as("n_grams"))
    val owners = grams.groupBy(col("s")).agg(min(col("doc_id")).as("doc_id"))
    val novel = owners.groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        PortableRound.pround(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("novelty"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkes/Aiken 2003, the MOSS
    * algorithm): hash every positional word-3-gram, slide a window of
    * `w` consecutive hashes, keep each window's minimum — guarantees a
    * shared fingerprint for any match of length ≥ w+2 words while
    * storing ~2/(w+1) of the grams. The selection upgrade over the
    * single rolling hash of [[fingerprint]]: robust to insertions.
    *
    * Determinism: ties break by (hash, position) — the hash and the
    * 0-based gram position are packed into one long (`h * 32768 + pos`,
    * h < 2^48, pos < 2^15 — document prefix capped accordingly), so the
    * window `min` IS the lexicographic (h, pos) min and both engines
    * agree bit-for-bit. All integer arithmetic, no rounding discipline.
    *
    * Scale (100 TB): the gram explode is narrow; the only shuffle is
    * the (doc)-keyed window sort, and the closing DISTINCT on
    * (doc, key) reuses that partitioning (doc_id is a subset of the
    * grouping key → no second exchange). Fingerprint volume per doc is
    * bounded by the winnow density, the property that makes the
    * downstream (fingerprint)-keyed overlap join tractable. */
  def winnowFingerprints(spark: SparkSession, sfDir: String, w: Int = 4): DataFrame =
    winnowFingerprints(Tables.documents(spark, sfDir), w)

  /** Per-document winnow KEY ARRAY: keys(i) = md5Hash48(gram_i)·2^15 + i
    * over positional word-3-grams, capped at 32768 positions — the
    * shared derivation behind [[winnowFingerprints]], [[winnowDocFps]]
    * and [[winnowDensity]]. Winnowing is a PER-DOCUMENT statistic, so
    * the whole selection runs as one codegen'd array expression on the
    * scan row — no gram explode, no doc-keyed window exchange + sort,
    * no closing distinct exchange (a window form costs every
    * winnow consumer one full-gram-stream shuffle + sort; at 100 TB the
    * gram stream is the corpus ×3). */
  private def winnowKeyed(docs: DataFrame): DataFrame = {
    val words = col("__w")
    // The md5-dense projection runs IN the stage that produces `docs`.
    // A small local fixture is one parquet row group = ONE scan task, so
    // fan the raw doc rows out first (guide §2.5 "input skew: one huge
    // unsplittable file — repartition immediately after the read").
    // Scale-adaptive, decided at plan time with no job: a 100 TB scan
    // (or a join-produced slice) already carries >= parallelism
    // partitions and skips the exchange; when it does fire it moves the
    // raw text once — ~3x fewer bytes than the gram-stream shuffle the
    // window form pays on every input.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread
      .withColumn("__w", split(col("text"), " "))
      .select(col("doc_id"),
        when(size(words) >= 3,
          transform(sequence(lit(0), least(size(words) - 3, lit(32767))), i =>
            graft.functions.PortableHash.md5Hash48(
              concat_ws(" ", element_at(words, i + 1),
                element_at(words, i + 2), element_at(words, i + 3))) *
              lit(32768L) + i))
          .otherwise(array().cast("array<bigint>")).as("keys"))
  }

  /** Sliding-window minima over [[winnowKeyed]]'s key array: wmins(p) =
    * min(keys(p..p+w-1)) for every FULL window p ∈ [0, n−w] — `least`
    * over w positions, all inside one whole-stage-codegen projection. */
  private def windowMins(keys: Column, w: Int): Column =
    transform(sequence(lit(0), size(keys) - w), i =>
      least((1 to w).map(j => element_at(keys, i + lit(j))): _*))

  /** Same, over a caller-supplied document slice — lets the sliced
    * recall eval push its calibration predicate BELOW the gram explode
    * instead of filtering fingerprints after the fact. */
  def winnowFingerprints(docs: DataFrame, w: Int): DataFrame = {
    val keys = col("keys")
    winnowKeyed(docs)
      .select(col("doc_id"),
        explode(when(size(keys) >= w, array_distinct(windowMins(keys, w)))
          .otherwise(array().cast("array<bigint>"))).as("wmin"))
      .select(col("doc_id"), (col("wmin") % 32768L).cast("int").as("pos"),
        expr("wmin DIV 32768").as("fp_hash"))
  }

  /** Document-level fingerprint SET — `winnowFingerprints(docs, w)
    * .select(doc_id, fp_hash).distinct()` with the distinct folded into
    * the per-document array (rows are unique by construction: one doc
    * row in, array_distinct over the hash array out), so consumers that
    * only join on the fp set skip the aggregate exchange entirely. */
  def winnowDocFps(docs: DataFrame, w: Int): DataFrame = {
    val keys = col("keys")
    winnowKeyed(docs)
      .select(col("doc_id"),
        explode(when(size(keys) >= w,
          // keys are non-negative, so >> 15 IS `DIV 32768` (exact —
          // a double divide would round the 63-bit key's mantissa)
          array_distinct(transform(windowMins(keys, w), m =>
            shiftright(m, 15))))
          .otherwise(array().cast("array<bigint>"))).as("fp_hash"))
  }

  /** WINNOW DENSITY AUDIT (Schleimer–Wilkerson–Aiken 2003's §3
    * guarantee, checked on OUR corpus): per document the gram count,
    * full windows, distinct fingerprints selected, and the selection
    * density in milli. Winnowing promises density ∈ [1/w, 1] with
    * expectation 2/(w+1) (≈ 400 milli at w = 4) — the number that
    * sizes every downstream fingerprint join; a corpus whose density
    * drifts (adversarial or degenerate text) silently changes the
    * dedup candidate volume, and this census is the alarm.
    *
    * Scale: the same doc-keyed window pass as the fingerprint
    * derivation (shared shape, not shared plan — the audit is
    * deployed independently); output is one row per doc. */
  def winnowDensity(spark: SparkSession, sfDir: String,
      w: Int = 4): DataFrame = {
    val keys = col("keys")
    // per-document statistic → pure projection over [[winnowKeyed]]:
    // no gram explode, no window exchange, no groupBy. The
    // `n_windows >= 1` gate is applied as its CHEAP equivalent on the
    // raw word count BEFORE the key derivation (n_windows ≥ 1 ⇔
    // size(words) ≥ w + 2, cap-independent since w ≪ 32768) — a filter
    // phrased on n_windows inlines the whole md5 key array and gets
    // predicate-pushed into the scan stage, re-evaluating it there.
    winnowKeyed(Tables.documents(spark, sfDir)
        .filter(size(split(col("text"), " ")) >= w + 2))
      .select(col("doc_id"),
        size(keys).cast("long").as("n_grams"),
        (size(keys) - (w - 1)).cast("long").as("n_windows"),
        size(array_distinct(windowMins(keys, w))).cast("long").as("n_fps"))
      .withColumn("density_milli", expr("(n_fps * 1000) DIV n_windows"))
  }

  /** BM25 retrieval: top-k documents per query for a small literal
    * query set (k1 = 1.2, b = 0.75, Robertson rational idf — same
    * log-free shape as [[tfidfTopTerms]]).
    *
    * Portability: each per-term contribution is one fixed-order chain
    * of IEEE double ops (identical in DuckDB), rounded to 6 digits and
    * cast to DECIMAL so the per-(query, doc) SUM is exact and
    * order-independent; ranking orders by the exact decimal.
    *
    * Scale (100 TB): the query set and its 12-term vocabulary are
    * broadcast — the corpus-side token stream is filtered to matching
    * terms BEFORE the only corpus shuffle (the (doc, term) tf count,
    * map-side combined, carrying dl as a max so no separate dl join);
    * df and the (n_docs, total-length) stats collapse to broadcast
    * scalars. The final per-query top-k is a window here (oracle
    * parity); at corpus candidate volumes [[Sketches.topKPerGroup]]'s
    * bounded aggregate is the drop-in replacement. */
  def bm25TopK(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queryTerms: Seq[(Int, String)] = Seq(
      1 -> "hash", 1 -> "join", 1 -> "merge",
      2 -> "window", 2 -> "sort", 2 -> "order",
      3 -> "stream", 3 -> "batch", 3 -> "fast",
      4 -> "vector", 4 -> "query", 4 -> "scan")
    val termSet = queryTerms.map(_._2).distinct
    import spark.implicits._
    val qterms = queryTerms.toDF("query_id", "term")

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(col("w")).cast("long")).as("tot"))
    val tf = docs
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode_outer(col("w")).as("term"))
      .filter(col("term").isin(termSet: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      // consumed by both the df count and the scoring join — materialize
      // the (small, term-filtered) tf rows once instead of re-scanning
      .localCheckpoint()
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    // One fixed-order double chain, mirrored verbatim in the oracle SQL.
    val idf = (col("n_docs").cast("double") - col("df") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfPart = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl").cast("double") / (col("tot").cast("double") / col("n_docs")))))
    val contrib = PortableRound.pround(idf * tfPart, 6).cast("decimal(28,6)")

    val scored = tf.join(broadcast(qterms), "term")
      .join(broadcast(dfc), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), contrib.as("c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        PortableRound.pround(col("s").cast("double"), 4).as("score"))
  }

  /** QUALITY × READABILITY INDEPENDENCE AUDIT (Pearson's χ² shape —
    * the first categorical-statistics query in the suite): the
    * contingency census of the Gopher/C4 quality grade (0–3, the
    * [[ndcgEval]] bucketing) against the Flesch [[readability]] band,
    * with each cell's exact-integer χ² term
    * `(obs·n − row·col)²·1000 DIV (n·row·col)` — algebraically
    * `(obs − E)²/E` scaled ×1000·n/n, no division before the final
    * floor, so both engines agree bit-for-bit. A large Σ says the
    * two axes measure DIFFERENT things (keep both gates); a tiny one
    * says they're redundant. Headroom: obs·n ≲ 3·10⁹ docs before
    * the square needs decimal(38,0) (documented hatch).
    *
    * Scale: two single-scan Column programs joined on doc_id, then a
    * ≤ 4×5-cell census with broadcast marginals. */
  def qualityReadabilityChi2(spark: SparkSession, sfDir: String): DataFrame = {
    val grades = Tables.documents(spark, sfDir)
      .select(col("doc_id"), qualityMicroCol.as("qm"))
      .withColumn("qgrade", expr("least(3L, qm DIV 2500)"))
      .select(col("doc_id"), col("qgrade"))
    val cells = readability(spark, sfDir).select(col("doc_id"), col("band"))
      .join(grades, "doc_id")
      .groupBy(col("qgrade"), col("band")).agg(count(lit(1)).as("obs"))
      .localCheckpoint(eager = false) // marginals + cells
    val rowM = cells.groupBy(col("qgrade")).agg(sum(col("obs")).as("row_n"))
    val colM = cells.groupBy(col("band")).agg(sum(col("obs")).as("col_n"))
    val n = cells.agg(sum(col("obs")).as("n"))
    cells.join(broadcast(rowM), "qgrade").join(broadcast(colM), "band")
      .crossJoin(broadcast(n))
      .select(col("qgrade"), col("band"), col("obs"), col("row_n"),
        col("col_n"),
        expr("""((obs * n - row_n * col_n) * (obs * n - row_n * col_n)
          | * 1000) DIV (n * row_n * col_n)""".stripMargin)
          .as("chi2_term_milli"))
  }

  /** The fixed milli discount table 1000/log2(i+1) for ranks 1..10 —
    * literal constants on BOTH engines, so NDCG needs no runtime log. */
  val NdcgDiscMilli: Seq[Long] =
    Seq(1000L, 631L, 500L, 431L, 387L, 356L, 333L, 315L, 301L, 289L)

  /** NDCG@10 RANKING EVAL (Järvelin & Kekäläinen 2002) of the BM25
    * retriever against quality-derived graded relevance — the
    * position-weighted eval completing the retrieval family: recall
    * says WHAT came back, Spearman says whether order is stable,
    * NDCG says whether the GOOD documents are on top. Relevance
    * grade = `least(3, q_micro DIV 2500)` (the Gopher/C4 quality
    * score bucketed to 0–3); discounts are the fixed milli table
    * [[NdcgDiscMilli]] (1/log2(i+1) ×1000 — literal constants, no
    * runtime log); DCG and ideal-DCG are exact integer sums and
    * `ndcg_milli = dcg·1000 DIV idcg` (null when a query's pool has
    * no relevant docs at all).
    *
    * Scale: rides [[bm25TopK]]'s audited plan; grades join on doc_id;
    * the ideal reorder is a window over ≤ k rows per query. */
  def ndcgEval(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val discArr = array(NdcgDiscMilli.map(lit): _*)
    val grades = Tables.documents(spark, sfDir)
      .select(col("doc_id"), qualityMicroCol.as("qm"))
      .withColumn("grade", expr("least(3L, qm DIV 2500)"))
      .select(col("doc_id"), col("grade"))
    val ranked = bm25TopK(spark, sfDir, k)
      .select(col("query_id"), col("rank"), col("doc_id"))
      .join(grades, "doc_id")
    val iw = Window.partitionBy(col("query_id"))
      .orderBy(col("grade").desc, col("doc_id"))
    ranked
      .withColumn("irank", row_number().over(iw))
      .withColumn("dg", col("grade") * element_at(discArr, col("rank")))
      .withColumn("ig", col("grade") * element_at(discArr, col("irank")))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ranked"), sum(col("dg")).as("dcg_milli"),
        sum(col("ig")).as("idcg_milli"))
      .withColumn("ndcg_milli", expr(
        "CASE WHEN idcg_milli > 0 THEN (dcg_milli * 1000) DIV idcg_milli END"))
  }

  /** Engine-portable log2 of positive-integer SQL expression `x`, in
    * micro-units (1e6 = one bit): `e + (x - 2^e)/2^e` where
    * `e = ⌊log2 x⌋` comes from the binary-string length (`bin(x)`
    * here, `format('{:b}',x)` in DuckDB) — every step is INTEGER
    * arithmetic, so the value is bit-identical across engines, unlike
    * libm `ln`/`log2` whose last ulp is implementation-defined. The
    * mantissa term is piecewise linear (max error 0.086 bits,
    * monotone) — plenty for ranking and bucketing scores, which is
    * all a quality FILTER needs. `x` must be a simple column name
    * (it is referenced three times). */
  def plog2MicroSql(x: String): String =
    s"(length(bin($x)) - 1) * 1000000L + " +
      s"(($x - shiftleft(CAST(1 AS BIGINT), length(bin($x)) - 1)) * 1000000L) " +
      s"DIV shiftleft(CAST(1 AS BIGINT), length(bin($x)) - 1)"

  /** The DuckDB replica of [[plog2MicroSql]]. */
  def plog2MicroDuck(x: String): String =
    s"(length(format('{:b}', $x)) - 1) * 1000000 + " +
      s"(($x - (CAST(1 AS BIGINT) << (length(format('{:b}', $x)) - 1))) * 1000000) " +
      s"// (CAST(1 AS BIGINT) << (length(format('{:b}', $x)) - 1))"

  /** CCNet-style LM perplexity filter (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): a stupid-backoff bigram LM (Brants et al. 2007) is
    * trained on a 20% reference slice (`doc_id % 5 = 0` — the
    * stand-in for CCNet's Wikipedia LM), every document in the corpus
    * is scored by its average per-transition negative log-probability,
    * and documents are bucketed head/middle/tail by tertile cutoffs
    * CALIBRATED ON THE SLICE ONLY — exactly CCNet's design, where the
    * cutoffs are constants computed once from the reference corpus.
    *
    * Transition score: `c(w1 w2)/c(w1)` when the bigram was seen, else
    * backoff `0.4 · (c(w2)+1)/(N+V)` (add-one-smoothed unigram, so OOV
    * words score without special-casing). All probabilities stay exact
    * integer rationals; the log is [[plog2Micro]] over the 2^30-scaled
    * ratio, so the whole score — and therefore the bucket assignment —
    * is integer-exact and oracle-replicable bit-for-bit. The 2^30
    * scale keeps `num·2^30` inside Long for reference slices up to
    * ~4·10^9 tokens; a larger deployment re-scales per magnitude.
    *
    * Scale: the LM tables are vocab-sized (Heaps' law) — `uni` and
    * `bi` broadcast at calibration scale and equi-join beyond; the
    * corpus-wide scoring pass is embarrassingly parallel (three
    * left equi-joins + one per-doc aggregate). The tertile cutoffs
    * come from a BOUNDED hash-deterministic sample of the calibration
    * slice via the O(k)-state `topk_by` aggregate — no total-order
    * window anywhere in the plan (PlanShapeSpec pins it). */
  def lmPerplexity(spark: SparkSession, sfDir: String,
      sampleK: Int = 2000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val trans = docs.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"))
    val slice = col("doc_id") % 5 === 0

    val uni = docs.filter(slice).select(explode(col("w")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c_w1"))
    val totals = uni.agg(sum(col("c_w1")).as("n_tok"),
      count(lit(1)).as("vocab"))
    val bi = trans.filter(slice).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))

    // LM tables are vocab-sized (Heaps) — no broadcast hint: AQE
    // auto-broadcasts them at calibration scale, and beyond the
    // threshold the same plan degrades gracefully to an equi-join
    // instead of forcing an OOM-sized broadcast.
    val scored = trans
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .join(uni.select(col("w1").as("w2"), col("c_w1").as("c_w2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(totals))
    val seen = col("c12").isNotNull && col("c_w1").isNotNull
    val num = when(seen, col("c12"))
      .otherwise((coalesce(col("c_w2"), lit(0L)) + 1L) * 2L)
    val den = when(seen, col("c_w1"))
      .otherwise((col("n_tok") + col("vocab")) * 5L)
    val perDoc = scored
      .select(col("doc_id"), num.as("num"), den.as("den"),
        when(seen, 0L).otherwise(1L).as("backoff"),
        when(col("c_w2").isNull, 1L).otherwise(0L).as("oov"))
      // 2^30-scaled ratio; ≥1 as long as p ≥ 2^-30 (documented above)
      .select(col("doc_id"),
        greatest(expr(s"(num * ${1L << 30}L) DIV den"), lit(1L)).as("x"),
        col("backoff"), col("oov"))
      .select(col("doc_id"),
        (lit(30L * 1000000L) - expr(plog2MicroSql("x"))).as("nll_micro"),
        col("backoff"), col("oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), sum(col("backoff")).as("n_backoff"),
        sum(col("oov")).as("n_oov"), sum(col("nll_micro")).as("sum_nll"))
      .withColumn("nll_avg_micro", expr("sum_nll DIV n_trans"))
      .drop("sum_nll")

    // Tertile cutoffs from a BOUNDED deterministic calibration sample
    // (CCNet's cutoffs are constants computed once from a bounded
    // reference corpus, not the whole crawl): the bottom-`sampleK`
    // slice docs by portable 48-bit hash — selected by the O(k)-state
    // `topk_by` aggregate, the same derandomized reservoir as
    // [[graft.operators.Sketches.groupSample]] — then the two cut
    // ranks are read straight out of a second topk_by's sorted array
    // (value DESC = nll ASC, id ASC — exactly ntile's sort). No window
    // over unbounded input anywhere: the old ntile ran a
    // single-partition WindowExec over 20% of the corpus, which at
    // 100× sorts the whole calibration slice on one task.
    graft.plans.BoundedAggregates.register(spark)
    val hh = graft.functions.PortableHash.md5Hash48(
      concat(lit("ppl:"), col("doc_id").cast("string")))
    val sampIds = perDoc.filter(slice)
      .select(col("doc_id"), hh.as("h"))
      .agg(call_function("topk_by",
        -col("h").cast("double"), col("doc_id"), lit(sampleK)).as("top"))
      .select(explode(col("top.id")).as("doc_id"))
    // ntile(3) over n rows: tile sizes n/3 (+1 for the first n%3 tiles);
    // t1/t2 are the values at sorted ranks n1 and n1+n2. The doubles in
    // the array are exact (micro-nll < 2^53), so the cast back is too.
    val cuts = perDoc.filter(slice).join(broadcast(sampIds), "doc_id")
      .agg(call_function("topk_by",
        -col("nll_avg_micro").cast("double"), col("doc_id"),
        lit(sampleK)).as("arr"))
      .select(size(col("arr")).as("n"), col("arr"))
      .withColumn("n1", expr("n DIV 3 + (CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END)"))
      .withColumn("n2", expr("n DIV 3 + (CASE WHEN n % 3 >= 2 THEN 1 ELSE 0 END)"))
      .select(
        expr("CAST(-try_element_at(arr, CAST(greatest(n1, 1) AS INT)).value AS BIGINT)").as("t1"),
        expr("CAST(-try_element_at(arr, CAST(greatest(n1 + n2, 1) AS INT)).value AS BIGINT)").as("t2"))
    perDoc.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_trans"), col("n_backoff"), col("n_oov"),
        col("nll_avg_micro"),
        when(col("nll_avg_micro") <= col("t1"), "head")
          .when(col("nll_avg_micro") <= col("t2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** KNESER–NEY bigram LM perplexity (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1998) — the smoothing the
    * n-gram LM literature converged on, next to [[lmPerplexity]]'s
    * stupid backoff: instead of backing off to RAW unigram frequency
    * (which loves "Francisco" — frequent, but only ever after "San"),
    * the lower-order model is the CONTINUATION distribution
    * P_cont(w2) = N1+(·w2)/B — how many distinct contexts w2 follows
    * — interpolated under an absolute discount D = 3/4:
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · P_cont(w2)
    *            = [max(4·c12 − 3, 0)·B + 3·N1+(w1·)·N1+(·w2)]
    *              / [4·c1·B]
    *
    * — one exact integer rational per transition (the discount lives
    * in quarters). An unseen context falls back to the add-one
    * continuation (N1+(·w2)+1)/(B+V). The NLL is the difference of
    * the portable [[plog2MicroSql]] applied to numerator and
    * denominator directly (the [[vocabDrift]] discipline — no 2^30
    * rescale, so the only width constraint is den = 4·c1·B ≤ 2^43:
    * holds to c1·B ≈ 2.2·10¹², e.g. a 10⁶-count hot context against
    * 2·10⁶ bigram types; beyond that, right-shift num and den by a
    * shared power of two — the difference is shift-invariant).
    *
    * Trained on the same 20% `doc_id % 5 = 0` slice as
    * [[lmPerplexity]], scored over the full corpus, so the two
    * queries are directly comparable per doc_id — the A/B a pipeline
    * runs before swapping its quality-filter LM.
    *
    * Scale: the model tables (bigram census + its two marginals +
    * continuation counts) are Heaps-bounded and equi-join to the
    * corpus-wide transition stream; the scoring pass is three left
    * equi-joins + one per-doc aggregate — embarrassingly parallel,
    * no window, no collect. */
  def knPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val trans = docs.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"))
    val slice = col("doc_id") % 5 === 0
    val bi = trans.filter(slice).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = false) // feeds ctx, cont, totals, probe
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1pr"))
    val vocab = docs.filter(slice).select(explode(col("w")).as("uw"))
      .agg(countDistinct(col("uw")).as("v"))
    val totals = bi.agg(count(lit(1)).as("b")).crossJoin(broadcast(vocab))

    val scored = trans
      .join(bi, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
    val seenCtx = col("c1").isNotNull
    val num = when(seenCtx,
        greatest(lit(4L) * coalesce(col("c12"), lit(0L)) - 3L, lit(0L)) *
          col("b") + lit(3L) * col("n1p") * coalesce(col("n1pr"), lit(0L)))
      .otherwise(coalesce(col("n1pr"), lit(0L)) + 1L)
    val den = when(seenCtx, lit(4L) * col("c1") * col("b"))
      .otherwise(col("b") + col("v"))
    scored
      .select(col("doc_id"),
        greatest(num, lit(1L)).as("num_x"), den.as("den_x"),
        when(seenCtx, 0L).otherwise(1L).as("no_ctx"),
        when(seenCtx && col("c12").isNull, 1L).otherwise(0L).as("backoff"))
      .select(col("doc_id"),
        (expr(plog2MicroSql("den_x")) - expr(plog2MicroSql("num_x")))
          .as("nll_micro"),
        col("no_ctx"), col("backoff"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), sum(col("no_ctx")).as("n_no_ctx"),
        sum(col("backoff")).as("n_backoff"),
        sum(col("nll_micro")).as("sum_nll"))
      .select(col("doc_id"), col("n_trans"), col("n_no_ctx"),
        col("n_backoff"), expr("sum_nll DIV n_trans").as("nll_avg_micro"))
  }

  /** MOORE–LEWIS cross-entropy-difference data selection (Moore &
    * Lewis 2010, "Intelligent Selection of Language Model Training
    * Data") — the contrastive twin of [[lmPerplexity]]'s single-model
    * filter and the LM-based counterpart of
    * [[graft.operators.Corpus.dsirWeights]]: score every document by
    * H_in(d) − H_gen(d), the per-token NLL under an IN-DOMAIN LM
    * (trained on the `source = 'src1'` slice — the stand-in for the
    * curated target corpus) minus the NLL under the GENERAL LM
    * (trained on the same 20% `doc_id % 5 = 0` slice as
    * [[lmPerplexity]]). Negative diff = "more like the target domain
    * than like the crawl" — the classic selection criterion; the raw
    * in-domain perplexity alone would just select SHORT/generic text.
    *
    * Both models are the identical stupid-backoff bigram (same
    * num/den rationals, same 2^30 scale, same [[plog2MicroSql]]), so
    * the difference cancels every shared convention and the whole
    * score is integer-exact on both engines. Subtraction only — no
    * negative division anywhere.
    *
    * Scale: ONE corpus-wide transition stream feeds both scoring
    * passes; each model's tables are Heaps-bounded equi-join sides;
    * the final merge is a doc_id-keyed join of two per-doc
    * aggregates. No window, no collect. */
  def mooreLewisSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val trans = docs.select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("t"))
      .select(col("doc_id"), col("source"),
        col("t.w1").as("w1"), col("t.w2").as("w2"))
      .localCheckpoint(eager = false) // shared by both models' train + score

    def sbNll(trainPred: org.apache.spark.sql.Column, tag: String): DataFrame = {
      val uni = docs.filter(trainPred).select(explode(col("w")).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c_w1"))
      val totals = uni.agg(sum(col("c_w1")).as("n_tok"),
        count(lit(1)).as("vocab"))
      val bi = trans.filter(trainPred).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val scored = trans
        .join(bi, Seq("w1", "w2"), "left")
        .join(uni, Seq("w1"), "left")
        .join(uni.select(col("w1").as("w2"), col("c_w1").as("c_w2")),
          Seq("w2"), "left")
        .crossJoin(broadcast(totals))
      val seen = col("c12").isNotNull && col("c_w1").isNotNull
      val num = when(seen, col("c12"))
        .otherwise((coalesce(col("c_w2"), lit(0L)) + 1L) * 2L)
      val den = when(seen, col("c_w1"))
        .otherwise((col("n_tok") + col("vocab")) * 5L)
      scored
        .select(col("doc_id"), num.as("num"), den.as("den"))
        .select(col("doc_id"),
          greatest(expr(numDenX("num", "den")), lit(1L)).as("x"))
        .select(col("doc_id"),
          (lit(30L * 1000000L) - expr(plog2MicroSql("x"))).as("nll"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trans"),
          sum(col("nll")).as("sum_nll"))
        .select(col("doc_id"), col("n_trans"),
          expr("sum_nll DIV n_trans").as(s"nll_${tag}_micro"))
    }
    val inDom = sbNll(col("source") === "src1", "in")
    val gen = sbNll(col("doc_id") % 5 === 0, "gen").drop("n_trans")
    inDom.join(gen, Seq("doc_id"))
      .select(col("doc_id"), col("n_trans"),
        col("nll_in_micro"), col("nll_gen_micro"),
        (col("nll_in_micro") - col("nll_gen_micro")).as("ce_diff_micro"))
      .withColumn("selected", col("ce_diff_micro") <= 0L)
  }

  // The 2^30-scaled ratio shared by the stupid-backoff scorers; split
  // out so the select above stays readable. num/den must be simple
  // column names.
  private def numDenX(num: String, den: String): String =
    s"($num * ${1L << 30}L) DIV $den"

  /** VOCABULARY DRIFT between two corpus slices — the distribution-
    * shift audit a pipeline runs when a new crawl snapshot lands (or
    * between train and eval mixes): per-term Jensen–Shannon divergence
    * contributions between the unigram distributions of the even and
    * odd `doc_id` halves (the deterministic stand-in for "old vs new
    * snapshot"), ranked by contribution. The headline JSD is the sum
    * of the top rows' contributions; the per-term table is the
    * actionable part — it names WHICH terms moved.
    *
    * Arithmetic is engine-portable by construction: with
    * a = n1·N2 and b = n2·N1 (exact longs), p/m = 2a/(a+b) and
    * q/m = 2b/(a+b), so each side's log term is
    * 10⁶ + plog2(a) − plog2(a+b) in [[plog2MicroSql]] integer micro-
    * bits, the p·log(p/m) weighting is one exact long multiply by n1
    * followed by one integer division by N1, and a zero count
    * contributes exactly 0 (the 0·log 0 convention) via the `when`
    * guard. No float accumulates anywhere, so rank AND values
    * replicate bit-for-bit in the oracle. One trap handled
    * explicitly: per-term KL contributions are SIGNED (only the JSD
    * total is nonnegative), and the engines disagree on negative
    * integer division (Spark `DIV` truncates toward zero, DuckDB `//`
    * floors), so every division routes through the sign-safe
    * `-((-n) DIV d)` form that only ever divides nonnegative longs.
    *
    * Scale shape (100 TB): token explode → ONE (term)-keyed aggregate
    * with map-side combine carrying two conditional counters (no join
    * of two half-vocabs — the halves split INSIDE the aggregate);
    * totals are a 1-row broadcast; ranking is distributed top-k
    * (`TakeOrderedAndProject`).
    *
    * Long headroom, two distinct ceilings handled separately: (1)
    * [[plog2MicroSql]]'s internal `(x − 2^msb)·10⁶` multiply overflows
    * once its INPUT reaches ~2^43 — far below the products' own range
    * (a = n1·N2 hits 2^43 with slices of only ~10⁷ tokens for a 5%
    * term) — so a, b, s are right-shifted by a SHARED
    * `max(0, bitlen(s) − 43)` before the logs (identical integer ops
    * in the oracle). The shift is exact in the difference — the k·10⁶
    * octave terms cancel in plog2(a′) − plog2(s′) — and costs < 2⁻⁴²
    * of an octave in the linear remainder. (2) The a/b PRODUCTS
    * themselves overflow Long past ~3·10⁹ tokens per slice; that tier
    * needs decimal(38,0) on both engines — same widening note as the
    * k-means/means family. */
  def vocabDrift(spark: SparkSession, sfDir: String, k: Int = 25): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select((col("doc_id") % 2 === 0).as("h0"),
        explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
    val perTerm = toks.groupBy(col("w"))
      .agg(sum(when(col("h0"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("h0"), 1L).otherwise(0L)).as("n2"))
    val totals = perTerm.agg(sum(col("n1")).as("tot1"), sum(col("n2")).as("tot2"))
    perTerm.crossJoin(broadcast(totals))
      .withColumn("a", col("n1") * col("tot2"))
      .withColumn("b", col("n2") * col("tot1"))
      .withColumn("s", col("a") + col("b"))
      // shared shift keeps every plog2 input under 2^43 (its internal
      // ·10⁶ headroom); the octave terms cancel in the a−s difference
      .withColumn("sh", expr("greatest(length(bin(s)) - 43, 0)"))
      .withColumn("a2", expr("greatest(shiftright(a, sh), 1L)"))
      .withColumn("b2", expr("greatest(shiftright(b, sh), 1L)"))
      .withColumn("s2", expr("shiftright(s, sh)"))
      // p·log2(p/m) numerators in micro-bits — exact signed longs
      // (0 when the count is 0: the 0·log 0 convention)
      .withColumn("num1", when(col("n1") > 0,
        col("n1") * (lit(1000000L) + expr(plog2MicroSql("a2"))
          - expr(plog2MicroSql("s2")))).otherwise(lit(0L)))
      .withColumn("num2", when(col("n2") > 0,
        col("n2") * (lit(1000000L) + expr(plog2MicroSql("b2"))
          - expr(plog2MicroSql("s2")))).otherwise(lit(0L)))
      // sign-safe truncating division (see scaladoc)
      .withColumn("kl1", expr(
        "CASE WHEN num1 >= 0 THEN num1 DIV tot1 ELSE -((-num1) DIV tot1) END"))
      .withColumn("kl2", expr(
        "CASE WHEN num2 >= 0 THEN num2 DIV tot2 ELSE -((-num2) DIV tot2) END"))
      .withColumn("jsd_contrib_micro", expr(
        "CASE WHEN kl1 + kl2 >= 0 THEN (kl1 + kl2) DIV 2 ELSE -((-(kl1 + kl2)) DIV 2) END"))
      .select(col("w"), col("n1"), col("n2"),
        expr("n1 * 1000000 DIV tot1").as("rpm1"),
        expr("n2 * 1000000 DIV tot2").as("rpm2"),
        col("jsd_contrib_micro"))
      .orderBy(col("jsd_contrib_micro").desc, col("w")).limit(k)
  }

  /** QUALITY-GATE AGGRESSIVENESS SWEEP — the filter-threshold curve
    * (the quality twin of [[graft.operators.Dedup.thresholdSweep]],
    * and the table that turns [[graft.operators.Corpus.qualityGate]]'s
    * single decile cut into a tunable knob): for each candidate
    * micro-score threshold, the documents and token mass the gate
    * keeps, as exact milli shares of the corpus. Data curation is a
    * yield-vs-quality trade — this is the yield axis, computed before
    * committing a 100 TB filter pass. All-integer (micro scores, long
    * token counts, milli shares by integer division).
    *
    * Scale shape: ONE narrow scan computes (q_micro, n_tok) per doc;
    * the 4-way threshold explode runs on those tiny per-doc rows; the
    * totals are a 1-row broadcast; output is |thresholds| rows. */
  def gateSweep(spark: SparkSession, sfDir: String,
      thresholdsMicro: Seq[Long] = Seq(5000L, 6000L, 7000L, 8000L)): DataFrame = {
    val perDoc = Tables.documents(spark, sfDir)
      .select(qualityMicroCol.as("q_micro"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val totals = perDoc.agg(count(lit(1)).as("tot_docs"), sum(col("n_tok")).as("tot_toks"))
    perDoc.crossJoin(broadcast(totals))
      .select(col("q_micro"), col("n_tok"), col("tot_docs"), col("tot_toks"),
        explode(array(thresholdsMicro.map(t => lit(t)): _*)).as("threshold_micro"))
      .filter(col("q_micro") >= col("threshold_micro"))
      .groupBy(col("threshold_micro"), col("tot_docs"), col("tot_toks"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tok")).as("n_tokens_kept"))
      .select(col("threshold_micro"), col("n_docs_kept"), col("n_tokens_kept"),
        expr("(n_docs_kept * 1000) DIV tot_docs").as("doc_share_milli"),
        expr("(n_tokens_kept * 1000) DIV tot_toks").as("token_share_milli"))
  }

  /** CALIBRATION CURVE of the hashed-linear quality model against the
    * heuristic gate — the reliability diagram a filter swap ships:
    * model scores ([[qualityModelScore]]) are cut into `bins` equal-
    * width bins over the observed [min, max] (same integer binning as
    * the histogram-quantile sketch), and each bin reports how often
    * the Gopher-style heuristic ([[qualityMicroCol]] ≥ `thresholdMicro`)
    * agrees. A well-calibrated model shows monotone keep-rates across
    * bins; a flat curve means the model adds nothing over the
    * heuristic. Everything is exact integer arithmetic (long counts,
    * integer bin mapping, milli-rate by integer division), so every
    * cell replicates bit-for-bit in the oracle.
    *
    * Scale shape: the two per-doc score columns come from single
    * narrow scans joined on doc_id (one co-keyed shuffle); min/max is
    * a 1-row broadcast; the final aggregate is `bins` rows with
    * map-side combine. Nothing here grows with corpus size except the
    * one doc_id shuffle. */
  def qualityCalibration(spark: SparkSession, sfDir: String,
      bins: Int = 8, thresholdMicro: Long = 7000L): DataFrame = {
    val model = qualityModelScore(spark, sfDir)
      .select(col("doc_id"), col("score_milli"))
    val heur = Tables.documents(spark, sfDir)
      .select(col("doc_id"), (qualityMicroCol >= thresholdMicro).as("keep_h"))
    val j = model.join(heur, "doc_id")
    val mm = j.agg(min(col("score_milli")).as("lo"), max(col("score_milli")).as("hi"))
    j.crossJoin(broadcast(mm))
      .select(expr(s"((score_milli - lo) * $bins) DIV (hi - lo + 1)").as("bin"),
        col("score_milli"), col("keep_h"), col("lo"), col("hi"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep_h"), 1L).otherwise(0L)).as("n_keep"),
        min(col("score_milli")).as("bin_min_milli"),
        max(col("score_milli")).as("bin_max_milli"))
      .withColumn("keep_rate_milli", expr("(n_keep * 1000) DIV n"))
  }

  /** ZIPF-LAW FIT over the top-N vocabulary — the one-number sanity
    * check of a text corpus's naturalness (natural language sits near
    * slope −1 in log-rank/log-frequency; template spam, tables, and
    * synthetic floods bend the curve): least-squares slope of
    * (plog2 rank, plog2 freq) over the top `topN` terms, in milli
    * units. Both logs are the integer micro-bit [[plog2MicroSql]], so
    * the fit is bit-identical across engines — and frequencies are
    * RIGHT-SHIFTED by a shared power of two when the top frequency
    * exceeds 30 bits (a constant offset in y, which a least-squares
    * SLOPE is exactly invariant to), so the query survives corpus
    * sizes where freq would overflow the plog2 mantissa multiply.
    * Sums of log-products run in decimal(38,0)/HUGEINT (the
    * events_spike_days convention) and the final division is the
    * sign-safe truncating form (slope is negative).
    *
    * Scale shape: one corpus-sized vocab count (map-side combined),
    * then TakeOrdered cuts to the BOUNDED top-N — the rank window and
    * the fit sums never see more than `topN` rows. */
  def zipfFit(spark: SparkSession, sfDir: String, topN: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val top = vocab.orderBy(col("freq").desc, col("w")).limit(topN)
      .localCheckpoint(eager = false) // rank window + shift anchor share it
    // rank over the bounded top-N table only (never the full vocab)
    val ranked = top.withColumn("rk",
      row_number().over(Window.orderBy(col("freq").desc, col("w"))).cast("long"))
    val shifted = ranked
      .crossJoin(broadcast(top.agg(max(col("freq")).as("fmax"))))
      .withColumn("fs",
        expr("greatest(shiftright(freq, greatest(length(bin(fmax)) - 30, 0)), 1L)"))
      .withColumn("x", expr(plog2MicroSql("rk")))
      .withColumn("y", expr(plog2MicroSql("fs")))
    shifted.agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .select(col("n_terms"),
        expr("""CAST(CASE WHEN n_terms * sxy - sx * sy >= 0
            THEN ((n_terms * sxy - sx * sy) * 1000) DIV (n_terms * sxx - sx * sx)
            ELSE -(((sx * sy - n_terms * sxy) * 1000) DIV (n_terms * sxx - sx * sx))
            END AS BIGINT)""").as("slope_milli"))
  }

  /** WORD-ENTROPY PROFILE per source — the Shannon-entropy audit next
    * to [[hapaxRatio]]'s census: H = Σ (f/tot)·log2(tot/f) over the
    * source's word distribution, in exact micro-bits via the integer
    * [[plog2MicroSql]] (each term is f·(plog2 tot − plog2 f), summed
    * in decimal(38,0)/HUGEINT, divided by tot) — low entropy =
    * template/boilerplate-dominated source, entropy ≈ log2(vocab) =
    * uniform noise. `norm_entropy_milli` reports H / log2(vocab).
    * Headroom: plog2's internal multiply holds to 2^42 inputs, so per
    * source ≤ 4·10¹² tokens — beyond that, pre-shift f and tot
    * together (the entropy difference is shift-invariant).
    *
    * Scale: one scan to (source, term) counts (map-side combined,
    * Heaps-bounded), per-source totals broadcast back, one rollup. */
  def entropyProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    val per = tf.groupBy(col("source"))
      .agg(sum(col("f")).as("tot"), count(lit(1)).as("vocab"))
    val dTerm = expr(plog2MicroSql("tot")) - expr(plog2MicroSql("f"))
    tf.join(broadcast(per), "source")
      .withColumn("term", col("f").cast("decimal(38,0)") * dTerm)
      .groupBy(col("source"), col("tot"), col("vocab"))
      .agg(sum(col("term")).as("hsum"))
      .select(col("source"), col("tot").as("n_tokens"), col("vocab"),
        expr("CAST(hsum DIV tot AS BIGINT)").as("entropy_micro_bits"))
      .withColumn("norm_entropy_milli",
        when(col("vocab") > 1,
          expr(s"(entropy_micro_bits * 1000) DIV (${plog2MicroSql("vocab")})"))
          .otherwise(lit(null).cast("long")))
  }

  /** HAPAX-LEGOMENA PROFILE per source — vocabulary-richness audit
    * (a source whose hapax share collapses is template/boilerplate
    * heavy; one whose type-token ratio explodes is likely noise or
    * ID-like garbage): tokens, vocabulary size, hapax count, hapax
    * share of vocabulary, and type-token ratio, all integer-exact.
    * One corpus scan into a (source, term) count, then a
    * source-keyed rollup — both map-side combined. */
  def hapaxRatio(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        expr("(hapax * 1000) DIV vocab").as("hapax_milli"),
        expr("(vocab * 1000) DIV n_tokens").as("ttr_milli"))

  /** TYPE-TOKEN-RATIO CURVE — lexical diversity at FIXED prefix sizes
    * (the standardized-TTR answer to raw TTR's length bias, which the
    * hapax census above measures only at full length): for prefix
    * sizes k ∈ {50, 100, 200}, the distinct-type count of each doc's
    * first k tokens, aggregated per (lang, k) as corpus TTR in exact
    * milli. A flat curve = repetitive boilerplate; a steep one =
    * vocabulary-rich prose — the diversity axis of the quality gates.
    *
    * Scale: one narrow pass — the per-doc distinct count is a
    * codegen'd `slice → array_distinct → size` over the already-split
    * token array (no explode, no shuffle until the |langs|·|ks|-row
    * rollup, which combines map-side). Docs shorter than k skip that
    * rung (both engines filter identically). */
  def ttrCurve(spark: SparkSession, sfDir: String,
      ks: Seq[Int] = Seq(50, 100, 200)): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
    ks.map { k =>
      docs.filter(col("n_tokens") >= k)
        .select(col("lang"), lit(k.toLong).as("k"),
          size(array_distinct(slice(col("w"), 1, k))).cast("long").as("types"))
        .groupBy(col("lang"), col("k"))
        .agg(count(lit(1)).as("n_docs"), sum(col("types")).as("sum_types"))
        .withColumn("ttr_milli", expr("(sum_types * 1000) DIV (n_docs * k)"))
    }.reduce(_.unionByName(_))
  }

  /** TERM BURSTINESS (Church & Gale's clumping diagnostic) — for the
    * top-`topN` corpus terms, the per-document dispersion index
    * D = var/mean of the term's counts over the documents it occurs
    * in, exact milli: D_milli = ((df·Σc² − (Σc)²)·1000) DIV
    * (Σc·(df−1)). Function words sit near the Poisson floor (D ≈ 1);
    * content/boilerplate terms clump (D ≫ 1) — the axis that separates
    * a frequent-because-common word from a frequent-because-duplicated
    * one, which the dedup family then explains.
    *
    * Scale: (term, doc) counts combine map-side; the top-N terms
    * arrive via TakeOrdered (per-partition heaps, never a vocabulary
    * sort) and broadcast back as a semi-join filter; the moments are
    * one |topN|-row aggregate. Numerator headroom: df·Σc² ≲ 2⁶³ holds
    * to ~10⁹ docs × typical counts; decimal hatch documented past it. */
  def termBurstiness(spark: SparkSession, sfDir: String,
      topN: Int = 20): DataFrame = {
    val td = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").rlike("^[a-z]+$"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // top-N pick AND moments share it
    val top = td.groupBy(col("term")).agg(sum(col("c")).as("total"))
      .orderBy(col("total").desc, col("term")).limit(topN)
    td.join(broadcast(top), Seq("term"))
      .groupBy(col("term"))
      .agg(max(col("total")).as("total"),
        count(lit(1)).as("df"),
        sum(expr("c * c")).as("sumsq"))
      .filter(col("df") > 1)
      .select(col("term"), col("df"), col("total"),
        expr("((df * sumsq - total * total) * 1000) DIV (total * (df - 1))")
          .as("d_milli"))
  }
}
