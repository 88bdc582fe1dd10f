package graft.operators

import java.io.ByteArrayOutputStream

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** REAL video decode for the multimodal family — the video twin of
  * [[ImageCodec]]/[[AudioCodec]], closing the last stubbed codec.
  *
  * The JDK ships no video codec, but an AVI file is just a RIFF
  * container (the SAME chunk grammar the WAVE parser in [[AudioCodec]]
  * walks) whose `movi` list carries one compressed image per frame.
  * This module writes a genuine, spec-complete AVI — `avih` main
  * header, `strl/strh/strf` stream headers, `movi` frame chunks, and
  * the `idx1` seek index — with Motion-PNG (`MPNG` FourCC) frames:
  * each frame is a real PNG encoded and decoded through `javax.imageio`
  * exactly like the still-image path. PNG is lossless, so the decoded
  * pixels equal the generator formula `(doc_id + 7·frame + x + y) % 256`
  * and the DuckDB oracle replicates the DECODED statistics
  * arithmetically — the same oracle trick as `mm_decode_image`
  * (a lossy MJPEG frame could not be arithmetically replicated; MJPEG
  * containers still DECODE through the same walk, ImageIO sniffs the
  * frame bytes — see the spec's MJPG round-trip).
  *
  * Scale shape: encode and decode are NARROW mapPartitions stages, zero
  * shuffle, cost linear in total pixels. [[decodeSampled]] is the scale
  * path for frame sampling: it reads the `idx1` index and decodes ONLY
  * the sampled frames — I/O and codec cost drop from O(all frames) to
  * O(sampled), which is the difference between scanning 100 TB of video
  * and scanning the ~1% of frames a training pipeline keeps.
  *
  * ref: reference stores video paths as opaque attachments only
  * (src/scicat_dataset.py dataset assembly); the decode stage itself is
  * an LLM-pipeline addition per the brief.
  */
object VideoCodec {

  /** Frame-count / dims from doc metadata — small at test SFs. */
  def nFrames(nChars: Long): Int = (nChars % 5 + 2).toInt
  def frameW(nChars: Long): Int = (nChars % 24 + 8).toInt
  def frameH(nChars: Long): Int = (nChars % 16 + 8).toInt

  /** Generator luma for (doc, frame, x, y) — what PNG losslessly
    * round-trips, so also the DECODED value. */
  def lumaAt(docId: Long, f: Int, x: Int, y: Int): Int =
    ((docId + 7L * f + x + y) % 256).toInt

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Deterministic real JPEG frame (same gradient as the PNG path,
    * shared encoder in [[ImageCodec.encodeGradient]]) — only the MJPG
    * spec round-trip uses it; lossy, so no arithmetic oracle rides on
    * its pixels. */
  def encodeJpeg(seed: Long, w: Int, h: Int): Array[Byte] =
    ImageCodec.encodeGradient(seed, w, h, "jpg")

  /** A genuine AVI: RIFF('AVI ') → LIST(hdrl){avih, LIST(strl){strh,
    * strf}} → LIST(movi){00dc…} → idx1. All sizes little-endian per the
    * RIFF spec; odd-sized frame chunks get the mandated pad byte.
    * `fcc` picks the frame codec: MPNG (lossless, the oracle path) or
    * MJPG (the classic motion-JPEG pairing). */
  def encodeAvi(docId: Long, n: Int, w: Int, h: Int,
      fcc: String = "MPNG"): Array[Byte] = {
    val frames = (0 until n).map(f =>
      if (fcc == "MJPG") encodeJpeg(docId + 7L * f, w, h)
      else ImageCodec.encodePng(docId + 7L * f, w, h))
    val bos = new ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    val maxFrame = frames.map(_.length).max
    def padded(len: Int) = len + (len & 1)

    // sizes, inner-out: strl = strh(8+56) + strf(8+40)
    val strlSize = 4 + 64 + 48
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + frames.map(f => 8 + padded(f.length)).sum
    val idx1Size = 16 * n
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idx1Size)

    bos.write(fourcc("RIFF")); le32(riffSize); bos.write(fourcc("AVI "))

    bos.write(fourcc("LIST")); le32(hdrlSize); bos.write(fourcc("hdrl"))
    bos.write(fourcc("avih")); le32(56)
    le32(100000) // µs per frame (10 fps)
    le32(maxFrame * 10); le32(0)
    le32(0x10) // AVIF_HASINDEX
    le32(n); le32(0); le32(1) // total frames, initial, one stream
    le32(maxFrame); le32(w); le32(h)
    le32(0); le32(0); le32(0); le32(0) // dwReserved[4]

    bos.write(fourcc("LIST")); le32(strlSize); bos.write(fourcc("strl"))
    bos.write(fourcc("strh")); le32(56)
    bos.write(fourcc("vids")); bos.write(fourcc(fcc))
    le32(0); le16(0); le16(0) // flags, priority, language
    le32(0); le32(1); le32(10) // initial frames, scale, rate (10 fps)
    le32(0); le32(n) // start, length
    le32(maxFrame); le32(-1); le32(0) // sugg. buffer, quality, sample size
    le16(0); le16(0); le16(w); le16(h) // rcFrame
    bos.write(fourcc("strf")); le32(40) // BITMAPINFOHEADER
    le32(40); le32(w); le32(h); le16(1); le16(24)
    bos.write(fourcc(fcc)) // biCompression
    le32(0); le32(0); le32(0); le32(0); le32(0)

    bos.write(fourcc("LIST")); le32(moviSize); bos.write(fourcc("movi"))
    // idx1 offsets are conventionally relative to the 'movi' FourCC
    val offsets = new Array[Int](n)
    var off = 4
    frames.zipWithIndex.foreach { case (fb, i) =>
      offsets(i) = off
      bos.write(fourcc("00dc")); le32(fb.length); bos.write(fb)
      if ((fb.length & 1) == 1) bos.write(0)
      off += 8 + padded(fb.length)
    }

    bos.write(fourcc("idx1")); le32(idx1Size)
    frames.zipWithIndex.foreach { case (fb, i) =>
      bos.write(fourcc("00dc")); le32(0x10) // AVIIF_KEYFRAME
      le32(offsets(i)); le32(fb.length)
    }
    bos.toByteArray
  }

  final case class VideoFrame(index: Int, decoded: ImageCodec.Decoded)

  private def rdLe32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
      ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  private def fccAt(b: Array[Byte], p: Int): String =
    new String(b, p, 4, "US-ASCII")

  /** Byte offset of the `movi` LIST's payload FourCC (the base the
    * idx1 offsets are relative to), or Left on a malformed container.
    * One linear RIFF walk — the same grammar as [[AudioCodec]]'s WAVE. */
  private def findMovi(b: Array[Byte]): Either[String, Int] = {
    if (b.length < 12 || fccAt(b, 0) != "RIFF" || fccAt(b, 8) != "AVI ")
      return Left("not a RIFF/AVI container")
    var p = 12
    while (p + 8 <= b.length) {
      val id = fccAt(b, p)
      val size = rdLe32(b, p + 4)
      if (size < 0 || p + 8 + size > b.length) return Left(s"truncated chunk $id")
      if (id == "LIST" && size >= 4 && fccAt(b, p + 8) == "movi")
        return Right(p + 8)
      p += 8 + size + (size & 1)
    }
    Left("no movi list")
  }

  /** Failure-tolerant FULL decode: every frame chunk in `movi` through
    * the real ImageIO codec (PNG for MPNG, JPEG for MJPG — ImageIO
    * sniffs the bytes). Left on any container or frame-codec failure. */
  def decode(payload: Array[Byte]): Either[String, Seq[VideoFrame]] =
    try findMovi(payload).flatMap { moviFcc =>
      val moviEnd = moviFcc + rdLe32(payload, moviFcc - 4)
      val out = ArrayBuffer.empty[VideoFrame]
      var p = moviFcc + 4
      var err: String = null
      while (err == null && p + 8 <= math.min(moviEnd, payload.length)) {
        val id = fccAt(payload, p)
        val size = rdLe32(payload, p + 4)
        if (size < 0 || p + 8 + size > payload.length) err = s"truncated frame $id"
        else {
          if (id.endsWith("dc") || id.endsWith("db")) {
            ImageCodec.decode(java.util.Arrays.copyOfRange(payload, p + 8, p + 8 + size)) match {
              case Right(d) => out += VideoFrame(out.length, d); ()
              case Left(e) => err = s"frame ${out.length}: $e"
            }
          }
          p += 8 + size + (size & 1)
        }
      }
      if (err != null) Left(err)
      else if (out.isEmpty) Left("no frame chunks")
      else Right(out.toSeq)
    } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** INDEX-SEEK sampled decode: walk `idx1`, decode only frames
    * 0, every, 2·every, … (max `cap`) by jumping straight to their
    * chunk offsets. The other frames' bytes are never touched by the
    * codec — at scale this is the frame-sampling plan (`mm_frame_sample`
    * Column arithmetic) made physical. */
  def decodeSampled(payload: Array[Byte], every: Int, cap: Int): Either[String, Seq[VideoFrame]] =
    try findMovi(payload).flatMap { moviFcc =>
      // find idx1 after the movi list
      val moviSize = rdLe32(payload, moviFcc - 4)
      var p = moviFcc - 8 + 8 + moviSize + (moviSize & 1)
      var idx1: Int = -1
      var idx1N = 0
      while (idx1 < 0 && p + 8 <= payload.length) {
        val id = fccAt(payload, p)
        val size = rdLe32(payload, p + 4)
        if (size < 0 || p + 8 + size > payload.length) return Left(s"truncated chunk $id")
        if (id == "idx1") { idx1 = p + 8; idx1N = size / 16 }
        p += 8 + size + (size & 1)
      }
      if (idx1 < 0) return Left("no idx1 index")
      // idx1 offset convention: most muxers store offsets relative to
      // the 'movi' fourcc, but absolute file offsets are also common
      // in the wild — probe entry 0 under both interpretations and use
      // whichever resolves to a real frame chunk (movi-relative wins a
      // tie; a probe miss falls through to the per-entry error path)
      def frameChunkAt(off: Int): Boolean =
        off >= 0 && off + 8 <= payload.length && fccAt(payload, off) == "00dc"
      val base =
        if (idx1N == 0) moviFcc
        else {
          val first = rdLe32(payload, idx1 + 8)
          if (frameChunkAt(moviFcc + first)) moviFcc
          else if (frameChunkAt(first)) 0
          else moviFcc
        }
      val picks = Range(0, idx1N, math.max(1, every)).take(cap)
      val out = ArrayBuffer.empty[VideoFrame]
      var err: String = null
      picks.foreach { f =>
        if (err == null) {
          val entry = idx1 + 16 * f
          val off = base + rdLe32(payload, entry + 8)
          val len = rdLe32(payload, entry + 12)
          if (off + 8 + len > payload.length || fccAt(payload, off) != "00dc")
            err = s"bad idx1 entry for frame $f"
          else ImageCodec.decode(
            java.util.Arrays.copyOfRange(payload, off + 8, off + 8 + len)) match {
            case Right(d) => out += VideoFrame(f, d); ()
            case Left(e) => err = s"frame $f: $e"
          }
        }
      }
      if (err != null) Left(err) else Right(out.toSeq)
    } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** One real AVI per document; every 10th truncated mid-header to
    * exercise the failure channel (F11 semantics downstream). */
  def realVideoBlobs(spark: SparkSession, sfDir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      // spread the CPU-bound codec work by ROWS (as the sf1 audit showed; same
      // fix as ImageCodec.realImageBlobs — one parquet split otherwise
      // serializes every decode pass)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val docId = r.getLong(0)
          val nc = r.getLong(1)
          val avi = encodeAvi(docId, nFrames(nc), frameW(nc), frameH(nc))
          Row(docId, if (docId % 10 == 0) avi.take(20) else avi)
        }
      }(enc)
  }

  /** Decoded per-video statistics through the real container walk +
    * per-frame ImageIO decode — exact integers (`sum_luma`,
    * cross-frame luma), so the arithmetic oracle hash-matches
    * bit-for-bit; truncated payloads surface as `ok=false` + nulls. */
  def decodeVideoStats(spark: SparkSession, sfDir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ok", BooleanType),
      StructField("n_frames", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sum_luma", LongType),
      StructField("mean_centi", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    realVideoBlobs(spark, sfDir).mapPartitions { rows =>
      rows.map { r =>
        val docId = r.getLong(0)
        decode(r.getAs[Array[Byte]](1)) match {
          case Right(frames) =>
            var sum = 0L
            frames.foreach { vf =>
              val d = vf.decoded
              var y = 0
              while (y < d.height) {
                var x = 0
                while (x < d.width) { sum += d.luma(x, y); x += 1 }
                y += 1
              }
            }
            val d0 = frames.head.decoded
            val nPx = frames.length.toLong * d0.width * d0.height
            Row(docId, true, frames.length, d0.width, d0.height, sum, sum * 100L / nPx)
          case Left(_) => Row(docId, false, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** SHOT-BOUNDARY DETECTION — the classic frame-differencing cut
    * detector (the first stage of any video curation pipeline: segment
    * into shots, then sample/caption per shot instead of per frame):
    * for every consecutive decoded frame pair, the sum of absolute
    * luma differences (SAD — exact long), its per-pixel mean in centi
    * units, and a boundary flag when the mean jump clears the
    * threshold. Real container walk + real ImageIO decode; truncated
    * payloads contribute no pairs (the F11 failure channel).
    *
    * The generator's +7-per-frame gradient makes boundaries DATA-
    * DEPENDENT: most pixel deltas are 7, wrap pixels jump 249, and the
    * wrap fraction varies per (doc, frame) — so the flag genuinely
    * discriminates and the DuckDB oracle replicates the decoded
    * arithmetic bit-for-bit from the metadata alone.
    *
    * Scale: narrow mapPartitions over the blobs, zero shuffle; cost
    * linear in decoded pixels. At 100 TB the sampled-decode path
    * ([[decodeSampled]]) bounds which frames are ever touched. */
  def shotBoundaries(spark: SparkSession, sfDir: String,
      thresholdCenti: Long = 1000L): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("f_from", IntegerType),
      StructField("f_to", IntegerType),
      StructField("sad", LongType),
      StructField("mad_centi", LongType),
      StructField("is_boundary", BooleanType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    realVideoBlobs(spark, sfDir).mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(0)
        decode(r.getAs[Array[Byte]](1)) match {
          case Right(frames) =>
            frames.sliding(2).collect { case Seq(a, b) =>
              val da = a.decoded
              val db = b.decoded
              var sad = 0L
              var y = 0
              while (y < da.height) {
                var x = 0
                while (x < da.width) {
                  sad += math.abs(db.luma(x, y) - da.luma(x, y)); x += 1
                }
                y += 1
              }
              val mad = sad * 100L / (da.width.toLong * da.height)
              Row(docId, a.index, b.index, sad, mad, mad >= thresholdCenti)
            }
          case Left(_) => Iterator.empty
        }
      }
    }(enc)
  }

  /** Sampled-decode statistics via the idx1 INDEX-SEEK path (every 2nd
    * frame, cap 4): what a training pipeline actually runs — the codec
    * only ever touches the kept frames. Exact integers as above. */
  def sampledVideoStats(spark: SparkSession, sfDir: String,
      every: Int = 2, cap: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ok", BooleanType),
      StructField("n_sampled", IntegerType),
      StructField("frame_idxs", StringType),
      StructField("sum_luma", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    realVideoBlobs(spark, sfDir).mapPartitions { rows =>
      rows.map { r =>
        val docId = r.getLong(0)
        decodeSampled(r.getAs[Array[Byte]](1), every, cap) match {
          case Right(frames) =>
            var sum = 0L
            frames.foreach { vf =>
              val d = vf.decoded
              var y = 0
              while (y < d.height) {
                var x = 0
                while (x < d.width) { sum += d.luma(x, y); x += 1 }
                y += 1
              }
            }
            Row(docId, true, frames.length, frames.map(_.index).mkString(","), sum)
          case Left(_) => Row(docId, false, null, null, null)
        }
      }
    }(enc)
  }
}
