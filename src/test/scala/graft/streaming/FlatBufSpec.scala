package graft.streaming

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.Messages._

/** FlatBuffers wire-format conformance for the wrdn/pl72 codec.
  *
  * The round-trips prove writer↔reader agreement; the hand-crafted
  * buffers prove the READER follows the format itself (vtable
  * indirection, trimmed vtables, vtable placed after the table —
  * layouts our writer never emits but a canonical builder, like the
  * python runtime behind the reference's streaming-data-types, may).
  */
class FlatBufSpec extends AnyFunSuite {

  /** 4 zero bytes + schema id + JSON body: a JSON message framing that
    * FlatBuffers producers never emit (its root offset is 0). */
  private def jsonFramed(id: String, body: String): Array[Byte] =
    Array[Byte](0, 0, 0, 0) ++ id.getBytes(UTF_8) ++ body.getBytes(UTF_8)

  test("wrdn FlatBuffers round-trip, all fields incl. UTF-8") {
    val m = WritingFinished("svc-1", "job-Ω-42", error_encountered = false,
      "/ess/raw/coda_ärm_00013947.hdf", """{"k": "v"}""", "done ✓")
    val bytes = MessageCodec.encodeWrdnFb(m)
    assert(MessageCodec.schemaId(bytes).contains("wrdn"))
    assert(MessageCodec.decodeWrdn(bytes).contains(m))
  }

  test("wrdn with error_encountered=true survives the FlatBuffers path") {
    val m = WritingFinished("s", "j", error_encountered = true, "/f", "", "boom")
    assert(MessageCodec.decodeWrdn(MessageCodec.encodeWrdnFb(m)).contains(m))
  }

  test("pl72 FlatBuffers round-trip reads job_id/filename/instrument by schema field id") {
    val m = RunStartInfo("99999901-3947", "/ess/raw/f.nxs", "ymir")
    val bytes = MessageCodec.encodePl72Fb(m, startTime = 1700000000000L)
    assert(MessageCodec.schemaId(bytes).contains("pl72"))
    val t = FlatBuf.root(bytes)
    assert(t.u64(0, 0L) == 1700000000000L) // start_time at id 0
    assert(t.string(2).isEmpty) // run_name absent
    assert(MessageCodec.decodePl72(bytes).contains(m))
  }

  test("wrong type / corrupt / truncated payloads decode to None") {
    val pl = MessageCodec.encodePl72Fb(RunStartInfo("j", "/f", "i"))
    assert(MessageCodec.decodeWrdn(pl).isEmpty)
    assert(MessageCodec.decodePl72(MessageCodec.encodeWrdnFb(
      WritingFinished("s", "j", false, "/f", "", ""))).isEmpty)
    assert(MessageCodec.decodeWrdn(Array[Byte](1, 2, 3)).isEmpty)
    val truncated = MessageCodec.encodeWrdnFb(
      WritingFinished("s", "j", false, "/f", "", "")).take(12)
    assert(MessageCodec.decodeWrdn(truncated).isEmpty)
    // a root table at 8 whose soffset 0 names a zero-size vtable
    val hollow = Array[Byte](8, 0, 0, 0) ++ "wrdn".getBytes(UTF_8) ++ Array[Byte](0, 0, 0, 0)
    assert(MessageCodec.decodeWrdn(hollow).isEmpty)
    // root offset 0: a JSON body behind 4 zero bytes and the schema id
    assert(MessageCodec.decodeWrdn(jsonFramed("wrdn", """{"file_name":"/f"}""")).isEmpty)
    assert(MessageCodec.decodePl72(jsonFramed("pl72", """{"filename":"/f"}""")).isEmpty)
  }

  /** A wrdn buffer laid out the way a canonical bottom-up builder does
    * it: strings at high addresses BEFORE the table... i.e. table after
    * strings, vtable at a HIGHER address than the table (negative
    * soffset), and a vtable trimmed to drop trailing absent fields.
    * Our writer never produces this layout; the reader must. */
  test("reader handles foreign layout: negative soffset + trimmed vtable") {
    // layout: [root:4][id:4][str job_id][str file_name][table][vtable]
    val job = "job-7".getBytes(UTF_8)
    val file = "/f.nxs".getBytes(UTF_8)
    def pad4(x: Int) = (x + 3) / 4 * 4
    val jobPos = 8
    val filePos = pad4(jobPos + 4 + job.length + 1)
    val tablePos = pad4(filePos + 4 + file.length + 1)
    // inline: soffset(4), job_id@4, error@8, file_name@12 -> 16 bytes
    val vtPos = tablePos + 16
    // vtable for 4 of the 6 fields (metadata/message trimmed): size 4+2*4
    val buf = ByteBuffer.allocate(vtPos + 12).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(0, tablePos)
    System.arraycopy("wrdn".getBytes(UTF_8), 0, buf.array(), 4, 4)
    buf.putInt(jobPos, job.length)
    System.arraycopy(job, 0, buf.array(), jobPos + 4, job.length)
    buf.putInt(filePos, file.length)
    System.arraycopy(file, 0, buf.array(), filePos + 4, file.length)
    buf.putInt(tablePos, tablePos - vtPos) // NEGATIVE soffset: vtable after table
    buf.putInt(tablePos + 4, jobPos - (tablePos + 4))
    buf.put(tablePos + 8, 1.toByte) // error_encountered = true
    buf.putInt(tablePos + 12, filePos - (tablePos + 12))
    buf.putShort(vtPos, 12.toShort) // vtable size: 4 + 2*4 entries
    buf.putShort(vtPos + 2, 16.toShort) // table inline size
    buf.putShort(vtPos + 4, 0.toShort) // service_id absent
    buf.putShort(vtPos + 6, 4.toShort) // job_id
    buf.putShort(vtPos + 8, 8.toShort) // error_encountered
    buf.putShort(vtPos + 10, 12.toShort) // file_name
    val got = MessageCodec.decodeWrdn(buf.array())
    assert(got.contains(WritingFinished("", "job-7", error_encountered = true,
      "/f.nxs", "", ""))) // trimmed fields read as defaults
  }

  test("property: wrdn/pl72 round-trip holds for arbitrary field content") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // strings across the interesting classes: empty, whitespace, ascii,
    // multi-byte UTF-8, embedded quotes/backslashes/newlines, long
    val strGen = Gen.oneOf(
      Gen.const(""),
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf('Ω', 'ä', '✓', '中', '"', '\\', '\n', 'a', ' '))
        .map(_.mkString),
      Gen.listOfN(2000, Gen.alphaNumChar).map(_.mkString))
    val wrdnGen = for {
      svc <- strGen; job <- strGen; err <- Gen.oneOf(true, false)
      file <- strGen; meta <- strGen; msg <- strGen
    } yield WritingFinished(svc, job, err, file, meta, msg)
    val pl72Gen = for {
      job <- strGen; file <- strGen; inst <- strGen
    } yield RunStartInfo(job, file, inst)

    val prop = Prop.forAll(wrdnGen) { m =>
      MessageCodec.decodeWrdn(MessageCodec.encodeWrdnFb(m)).contains(m)
    } && Prop.forAll(pl72Gen) { m =>
      MessageCodec.decodePl72(MessageCodec.encodePl72Fb(m)).contains(m)
    }
    val result = check(Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("wrdnStream decodes a mixed FlatBuffers/JSON binary stream end-to-end") {
    val spark = TestSpark.spark
    import spark.implicits._
    val msgs = Seq(
      MessageCodec.encodeWrdnFb(
        WritingFinished("svc", "j-fb", false, "/data/fb.nxs", "{}", "ok")),
      jsonFramed("wrdn", """{"file_name":"/data/json.nxs"}"""), // not FlatBuffers
      MessageCodec.encodeWrdnFb(
        WritingFinished("svc", "j-err", true, "/data/err.nxs", "{}", "boom")),
      MessageCodec.encodePl72Fb(RunStartInfo("j", "/data/fb.nxs", "ymir")),
      Array[Byte](9, 9, 9)) // undecodable
      .toDF("value")
    val got = IngestStream.wrdnStream(msgs).collect()
    assert(got.map(_.getAs[String]("file_name")).toSeq == Seq("/data/fb.nxs"))
    val pl = IngestStream.runStartStream(msgs).collect()
    assert(pl.map(r => (r.getAs[String]("job_id"), r.getAs[String]("filename"),
      r.getAs[String]("instrument_name"))).toSeq == Seq(("j", "/data/fb.nxs", "ymir")))
  }
}
