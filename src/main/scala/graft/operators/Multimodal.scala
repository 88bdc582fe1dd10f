package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal columns for training-data pipelines: image/audio/video as
  * opaque `binary` columns with typed metadata, plus decode /
  * feature-extract / resize / frame-sample stages.
  *
  * All three codecs are REAL: [[ImageCodec]] round-trips genuine
  * PNG/JPEG/BMP/GIF bytes through `javax.imageio` (`mm_decode_image`,
  * `mm_image_ahash`), [[AudioCodec]] decodes genuine RIFF/WAVE PCM
  * through `javax.sound.sampled` (`mm_decode_audio`), and
  * [[VideoCodec]] walks a genuine RIFF/AVI container and decodes each
  * Motion-PNG frame through ImageIO (`mm_decode_video`,
  * `mm_video_sample`), all with the F11 failure channel. [[decodeStub]]
  * survives as the byte-statistics twin whose numbers need no codec.
  * Everything Spark-side is identical either way — schema,
  * partitioning, the mapPartitions batch shape (the Scala analogue of
  * `mapInPandas`: one iterator per partition, vectorizable per batch),
  * and the pure-Column metadata paths.
  *
  * Scale notes: blobs travel as single binary cells; feature extraction
  * is a narrow mapPartitions (no shuffle) so it scales linearly with
  * partitions; skew from variable blob sizes is handled by range
  * repartitioning on the declared byte size BEFORE the expensive decode.
  */
object Multimodal {

  /** MULTIMODAL RELEASE FUNNEL — the admission dashboard composing
    * the decode-gate family (the multimodal twin of
    * `corpus_release_funnel`): per document the decode gate (F11),
    * the TEXTURE gate (image histogram entropy ≥ 6 bits — flat/banded
    * assets drop), the SPEECH-DENSITY gate (audio active ratio ≥ 900
    * milli), and the STRUCTURE gate (≥ 1 video shot boundary), plus
    * the conjunctive `passed_all`. Failed decodes carry honest nulls
    * through every downstream flag.
    *
    * Scale: three narrow decode passes (each already audited) + three
    * doc_id equi-joins — the funnel adds no shuffle of its own. */
  def releaseFunnel(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ie = ImageCodec.imageEntropy(spark, sfDir)
      .select(col("doc_id"), col("entropy_micro"))
    val av = AudioCodec.audioVad(spark, sfDir)
      .select(col("doc_id"), col("active_milli"))
    val sb = VideoCodec.shotBoundaries(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("is_boundary"), 1L).otherwise(0L)).as("n_cuts"))
    graft.Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(ie, Seq("doc_id"), "left")
      .join(av, Seq("doc_id"), "left")
      .join(sb, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") % 10 =!= 0).as("decoded"),
        (col("entropy_micro") >= 6000000L).as("textured"),
        (col("active_milli") >= 900L).as("speech_dense"),
        col("n_cuts"),
        (col("n_cuts") >= 1L).as("has_cuts"))
      .withColumn("passed_all",
        when(col("decoded"),
          col("textured") && col("speech_dense") && col("has_cuts")))
  }

  /** CROSS-MODAL DEDUP AUDIT — the integration query the three
    * modality families exist for: every TEXT near-dup pair (winnow
    * fingerprints) scored against the decoded IMAGE aHash and AUDIO
    * envelope-hash hamming distances of the same two documents. A
    * pair that is text-near but image/audio-far is a re-captioned
    * asset; near on all three is a true duplicate; the nulls are the
    * failed-decode channel (F11) surfacing honestly. Flags use the
    * same ham ≤ 3 gate as the per-modality census queries.
    *
    * Scale: the pair list is the audited winnow join; the hashes
    * attach via four doc_id equi-joins — 2×64 bits per doc, no
    * pairwise work beyond the pairs that already exist. */
  def crossmodalDedupAudit(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val pairs = Dedup.winnowEdgesMaterialized(spark, sfDir)
      .select(col("id1"), col("id2"), col("n_shared"))
    val img = ImageCodec.imageAHash(spark, sfDir).localCheckpoint(eager = false)
    val aud = AudioCodec.audioFingerprint(spark, sfDir).localCheckpoint(eager = false)
    pairs
      .join(img.select(col("doc_id").as("id1"), col("ahash_hi").as("ih1"),
        col("ahash_lo").as("il1")), Seq("id1"), "left")
      .join(img.select(col("doc_id").as("id2"), col("ahash_hi").as("ih2"),
        col("ahash_lo").as("il2")), Seq("id2"), "left")
      .join(aud.select(col("doc_id").as("id1"), col("fp_hi").as("ah1"),
        col("fp_lo").as("al1")), Seq("id1"), "left")
      .join(aud.select(col("doc_id").as("id2"), col("fp_hi").as("ah2"),
        col("fp_lo").as("al2")), Seq("id2"), "left")
      .select(col("id1"), col("id2"), col("n_shared"),
        expr("CAST(bit_count(ih1 ^ ih2) + bit_count(il1 ^ il2) AS INT)")
          .as("img_ham"),
        expr("CAST(bit_count(ah1 ^ ah2) + bit_count(al1 ^ al2) AS INT)")
          .as("audio_ham"))
      .withColumn("img_dup", col("img_ham") <= 3)
      .withColumn("audio_dup", col("audio_ham") <= 3)
  }

  /** Deterministic synthetic blobs from the documents table — the
    * stand-in for a real binary source (S7-style scan of media files).
    * Metadata derives arithmetically from doc fields so the DuckDB
    * oracle can replicate it. */
  def blobs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("modality",
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video"))
      .withColumn("payload", to_binary(sha2(col("text"), 256), lit("hex")))
      .withColumn("meta", struct(
        col("modality"),
        when(col("modality") === "image", (col("n_chars") % 64 + 16).cast("int"))
          .otherwise(lit(null).cast("int")).as("width"),
        when(col("modality") === "image", (col("n_chars") % 48 + 16).cast("int"))
          .otherwise(lit(null).cast("int")).as("height"),
        when(col("modality") === "audio", lit(16000)).otherwise(lit(null).cast("int")).as("sample_rate"),
        when(col("modality") === "video", (col("n_chars") % 240 + 24).cast("int"))
          .otherwise(lit(null).cast("int")).as("n_frames")))
      .select(col("doc_id"), col("payload"), col("meta"))

  /** Metadata statistics — pure Column path over the typed meta struct. */
  def metaStats(spark: SparkSession, sfDir: String): DataFrame =
    blobs(spark, sfDir)
      .groupBy(col("meta.modality").as("modality"))
      .agg(
        count(lit(1)).as("n"),
        sum(length(col("payload"))).as("total_bytes"),
        sum(coalesce(col("meta.width").cast("long") * col("meta.height"), lit(0L))).as("total_pixels"),
        sum(coalesce(col("meta.n_frames").cast("long"), lit(0L))).as("total_frames"))

  /** Frame sampling: pick every k-th frame index up to a cap — pure
    * Column arithmetic on metadata (no decode needed for planning). */
  def frameSample(spark: SparkSession, sfDir: String, every: Int = 10, cap: Int = 8): DataFrame =
    blobs(spark, sfDir)
      .filter(col("meta.modality") === "video")
      .select(col("doc_id"), col("meta.n_frames").as("n_frames"),
        array_join(
          slice(sequence(lit(0), col("meta.n_frames") - 1, lit(every)), 1, cap)
            .cast("array<string>"), ",")
          .as("sampled_frames"))

  /** "Decoded" pixel statistics via mapPartitions — the mapInPandas
    * batch shape: one iterator per partition, decode stub per element.
    * The STUB: features derive from payload bytes deterministically
    * (a real build would call an image codec here — the Spark plumbing
    * around it is unchanged).
    */
  def decodeStub(spark: SparkSession, sfDir: String): DataFrame = {
    val input = blobs(spark, sfDir)
      // balance decode cost before the expensive stage: skewed blob
      // sizes would straggle a partition at scale
      .repartitionByRange(col("doc_id"))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("modality", StringType),
      StructField("n_bytes", IntegerType),
      StructField("mean_byte", DoubleType),
      StructField("byte_entropy_bucket", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    input.mapPartitions { rows =>
      rows.map { r =>
        val docId = r.getAs[Long]("doc_id")
        val payload = r.getAs[Array[Byte]]("payload")
        val modality = r.getAs[Row]("meta").getAs[String]("modality")
        // --- stubbed decode: deterministic byte statistics ---
        val mean = if (payload.isEmpty) 0.0
          else payload.map(b => (b & 0xff).toDouble).sum / payload.length
        val distinct = payload.map(_ & 0xff).toSet.size
        // floor(x*100+0.5)/100: portable round-half-up — same IEEE ops
        // as the oracle (rint is banker's rounding, engines disagree)
        Row(docId, modality, payload.length, math.floor(mean * 100 + 0.5) / 100, distinct / 8)
      }
    }(enc)
  }

  /** Perceptual-hash PLUMBING over the binary column: an 8-block
    * average hash (aHash) computed on the payload bytes — block bit =
    * 1 when the block's byte sum exceeds its share of the total
    * (`block_sum·8 > total`, exact integers, no division). A real
    * image pipeline decodes + downsamples first and then runs exactly
    * this bit construction; the stub skips the codec but the blocking,
    * the threshold arithmetic, and the hamming-bucket usage downstream
    * are the production shape. Pure codegen'd Column program (the
    * payload parses via hex + conv — no UDF), zero shuffle. */
  def byteAHash(spark: SparkSession, sfDir: String): DataFrame = {
    val hx = upper(hex(col("payload")))
    def byteAt(i: Int): Column =
      conv(substring(hx, 2 * i + 1, 2), 16, 10).cast("long")
    val bytes = (0 until 32).map(byteAt)
    val total = bytes.reduce(_ + _)
    val ahash = (0 until 8).map { b =>
      val blockSum = (0 until 4).map(k => bytes(b * 4 + k)).reduce(_ + _)
      when(blockSum * 8 > total, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    blobs(spark, sfDir)
      .select(col("doc_id"), col("meta.modality").as("modality"),
        ahash.as("ahash"))
  }

  /** Resize planning: new dims as metadata transform (the byte-level
    * resample is part of the stubbed codec). */
  def resizePlan(spark: SparkSession, sfDir: String, maxSide: Int = 32): DataFrame =
    blobs(spark, sfDir)
      .filter(col("meta.modality") === "image")
      .withColumn("scale",
        least(lit(1.0), lit(maxSide) / greatest(col("meta.width"), col("meta.height"))))
      .select(col("doc_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        floor(col("meta.width") * col("scale")).cast("int").as("new_width"),
        floor(col("meta.height") * col("scale")).cast("int").as("new_height"))
}
