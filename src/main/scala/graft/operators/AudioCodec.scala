package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.AudioSystem

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** REAL audio decode for the multimodal family — the audio twin of
  * [[ImageCodec]], using the JDK's own `javax.sound.sampled` stack
  * (WAV/AIFF/AU, no new dependency) with the F11 failure channel.
  *
  * Same oracle trick as the image path: [[realAudioBlobs]] renders a
  * genuine RIFF/WAVE file per document whose 16-bit PCM samples follow
  * the deterministic recurrence `((doc_id·31 + i·7) mod 65536) −
  * 32768`, every 10th payload truncated mid-header; the decode query
  * round-trips through the actual codec and DuckDB replicates the
  * DECODED statistics arithmetically — exact integer sums, no float.
  *
  * Scale shape: narrow mapPartitions encode/decode, zero shuffle,
  * linear in samples; at 100 TB payloads stream off object storage and
  * only this stage's input changes.
  */
object AudioCodec {

  val SampleRate = 8000

  /** Sample count from doc metadata (bounded so test SFs stay fast). */
  def nSamples(nChars: Long): Int = (nChars % 2000 + 500).toInt

  /** The deterministic 16-bit PCM sample at index i. */
  def sampleAt(docId: Long, i: Int): Int =
    (((docId * 31 + i.toLong * 7) % 65536) - 32768).toInt

  /** A genuine little-endian RIFF/WAVE file: 16-bit mono PCM. Written
    * byte-by-byte from the spec so the bytes are fully deterministic;
    * decoded back through the real `AudioSystem` codec. */
  def encodeWav(docId: Long, n: Int): Array[Byte] = {
    val dataLen = n * 2
    val bos = new ByteArrayOutputStream(44 + dataLen)
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    bos.write("RIFF".getBytes("US-ASCII")); le32(36 + dataLen)
    bos.write("WAVE".getBytes("US-ASCII"))
    bos.write("fmt ".getBytes("US-ASCII")); le32(16)
    le16(1) /* PCM */ ; le16(1) /* mono */
    le32(SampleRate); le32(SampleRate * 2) /* byte rate */
    le16(2) /* block align */ ; le16(16) /* bits */
    bos.write("data".getBytes("US-ASCII")); le32(dataLen)
    var i = 0
    while (i < n) { le16(sampleAt(docId, i) & 0xffff); i += 1 }
    bos.toByteArray
  }

  /** Failure-tolerant decode through the REAL codec: 16-bit mono PCM
    * samples back out, or Left on any undecodable payload. */
  def decode(payload: Array[Byte]): Either[String, (Int, Array[Int])] =
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1)
        Left(s"unsupported format: $fmt")
      else {
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        val samples = new Array[Int](n)
        var i = 0
        while (i < n) {
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt // sign-extends
          samples(i) = (hi << 8) | lo
          i += 1
        }
        Right(((fmt.getSampleRate + 0.5f).toInt, samples))
      }
    } catch {
      case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** One real WAV per document; every 10th truncated inside the RIFF
    * header to exercise the failure channel. */
  def realAudioBlobs(spark: SparkSession, sfDir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      // NOT repartitioned (a recorded A/B at sf1): the image/video blob
      // sources spread their codec work by rows and won 10–20× at sf1,
      // but the same repartition here measured NO stable win — the WAV
      // encode's allocation pressure dominates and the 32-way medians
      // (7.2–7.7 s) sat ABOVE the serial chain number with 2.7× repeat
      // spread. Kept serial-split until a cleaner measurement; at real
      // scale the blobs arrive as many files (splits), so the single-
      // split artifact is test-data-shaped anyway.
      .mapPartitions { rows =>
        rows.map { r =>
          val docId = r.getLong(0)
          val wav = encodeWav(docId, nSamples(r.getLong(1)))
          Row(docId, if (docId % 10 == 0) wav.take(16) else wav)
        }
      }(enc)
  }

  /** 64-bit ENERGY-ENVELOPE fingerprint of decoded PCM — the audio
    * twin of [[ImageCodec.ahashOf]], completing census-style near-dup
    * across all three modalities: window `i` covers samples with
    * `s·64 div n == i` (the image path's integer block assignment in
    * 1-D), its bit is set when the window's |sample| mass exceeds its
    * share of the total, tested as the exact cross-multiplication
    * `win_sum · n_samples > total · win_n` — no division, no float,
    * so the DuckDB oracle replays it bit-for-bit from the PCM
    * recurrence. Loudness-pattern invariant: uniform gain scales both
    * sides of the comparison. */
  def envelopeHashOf(samples: Array[Int]): (Long, Long) = {
    val n = samples.length
    val winSum = Array.ofDim[Long](64)
    val winN = Array.ofDim[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val w = (i.toLong * 64 / n).toInt
      val a = math.abs(samples(i)).toLong
      winSum(w) += a; winN(w) += 1; total += a
      i += 1
    }
    var hi = 0L; var lo = 0L
    var b = 0
    while (b < 64) {
      if (winSum(b) * n > total * winN(b)) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      b += 1
    }
    (hi, lo)
  }

  /** Per-doc envelope fingerprint through the REAL codec — feeds the
    * same banded hamming census join as images ([[ImageCodec
    * .imageHammingPairs]] blocking); failed decodes drop (no PCM to
    * hash), same contract as the image hash query. */
  def audioFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("fp_hi", LongType),
      StructField("fp_lo", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    realAudioBlobs(spark, sfDir).mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(0)
        decode(r.getAs[Array[Byte]](1)) match {
          case Right((_, samples)) if samples.nonEmpty =>
            val (hi, lo) = envelopeHashOf(samples)
            Some(Row(docId, hi, lo))
          case _ => None
        }
      }
    }(enc)
  }

  /** SILENCE / ENERGY SEGMENTATION (energy-threshold VAD — the first
    * stage of any speech curation pipeline: gate out silence, keep
    * speech-dense clips): the decoded PCM splits into 10 ms frames
    * (80 samples at 8 kHz, partial tail kept with its own length); a
    * frame is SILENT when its mean |amplitude| is under 3/8 full
    * scale (`sum_abs < 12288·len` — exact cross-multiplication, no
    * division; 3/8 calibrated so the gate discriminates at every
    * test SF of the sawtooth fixture). Per document: frame counts, the longest silent run,
    * and the active ratio in milli — the "speech density" a sampler
    * filters on. The generator's ±7-step sawtooth makes silence DATA-
    * DEPENDENT (only docs whose ramp crosses the low-|value| band dip
    * under the gate), so the flag genuinely discriminates and the
    * oracle replays the arithmetic from the PCM recurrence.
    *
    * Scale: narrow mapPartitions over the blobs — the run-length scan
    * is a single in-memory pass per doc, zero shuffle. */
  def audioVad(spark: SparkSession, sfDir: String,
      frameLen: Int = 80, meanGate: Long = 12288L): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_frames", LongType),
      StructField("n_silent", LongType),
      StructField("longest_silence", LongType),
      StructField("active_milli", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    realAudioBlobs(spark, sfDir).mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(0)
        decode(r.getAs[Array[Byte]](1)) match {
          case Right((_, samples)) =>
            var nFrames = 0L; var nSilent = 0L
            var longest = 0L; var run = 0L
            var f = 0
            while (f * frameLen < samples.length) {
              val end = math.min((f + 1) * frameLen, samples.length)
              var sumAbs = 0L
              var i = f * frameLen
              while (i < end) { sumAbs += math.abs(samples(i)); i += 1 }
              nFrames += 1
              if (sumAbs < meanGate * (end - f * frameLen)) {
                nSilent += 1; run += 1
                if (run > longest) longest = run
              } else run = 0
              f += 1
            }
            Some(Row(docId, nFrames, nSilent, longest,
              (nFrames - nSilent) * 1000L / nFrames))
          case Left(_) => None
        }
      }
    }(enc)
  }

  /** Decoded audio statistics through the REAL codec — all exact
    * integers (`sum_abs`, `sum_sq`, peak), so the arithmetic oracle
    * hash-matches bit-for-bit; truncated payloads surface as
    * `ok=false` + nulls. */
  def decodeAudioStats(spark: SparkSession, sfDir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ok", BooleanType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("sum_abs", LongType),
      StructField("sum_sq", LongType),
      StructField("peak", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    realAudioBlobs(spark, sfDir).mapPartitions { rows =>
      rows.map { r =>
        val docId = r.getLong(0)
        decode(r.getAs[Array[Byte]](1)) match {
          case Right((rate, samples)) =>
            var sumAbs = 0L; var sumSq = 0L; var peak = 0
            var i = 0
            while (i < samples.length) {
              val v = samples(i); val a = math.abs(v)
              sumAbs += a; sumSq += v.toLong * v; if (a > peak) peak = a
              i += 1
            }
            Row(docId, true, rate, samples.length, sumAbs, sumSq, peak)
          case Left(_) =>
            Row(docId, false, null, null, null, null, null)
        }
      }
    }(enc)
  }
}
