package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

/** Control-message model + wire codec.
  *
  * The reference consumes FlatBuffer-encoded messages whose schema id
  * sits at payload bytes [4:8] — `"wrdn"` = writing finished, `"pl72"` =
  * run start (ref: src/scicat_kafka.py:89-96,198-205, deserialised via
  * the public streaming-data-types package). That is the one wire form
  * [[MessageCodec]] reads and writes: FlatBuffers buffers, read
  * field-by-field with the hand-rolled [[FlatBuf]] vtable reader against
  * the public schemas (FinishedWriting.fbs / RunStart.fbs from ess-dmsc
  * streaming-data-types). A payload that is not a valid buffer of the
  * requested type decodes to None.
  */
object Messages {

  /** ref: WritingFinished fields used at src/scicat_kafka.py:104,128-131;
    * full constructor tests/_scicat_ingestor.py:87-93. */
  final case class WritingFinished(
      service_id: String,
      job_id: String,
      error_encountered: Boolean,
      file_name: String,
      metadata: String,
      message: String)

  /** ref: pl72 fields used at src/scicat_sample_ingestor.py:186-188,211. */
  final case class RunStartInfo(
      job_id: String,
      filename: String,
      instrument_name: String)

  val WrdnId = "wrdn"
  val Pl72Id = "pl72"
}

object MessageCodec {
  import Messages._

  def schemaId(payload: Array[Byte]): Option[String] =
    if (payload == null || payload.length < 8) None
    else Some(new String(payload, 4, 4, UTF_8))

  // --- FlatBuffers encode (field ids per the public .fbs schemas) -----

  /** wrdn = FinishedWriting.fbs: service_id(0), job_id(1),
    * error_encountered(2), file_name(3), metadata(4), message(5). */
  def encodeWrdnFb(m: WritingFinished): Array[Byte] = {
    import FlatBuf._
    writeTable(WrdnId, Seq(
      FStr(m.service_id), FStr(m.job_id), FBool(m.error_encountered),
      FStr(m.file_name), FStr(m.metadata), FStr(m.message)))
  }

  /** pl72 = RunStart.fbs: start_time(0), stop_time(1), run_name(2),
    * instrument_name(3), nexus_structure(4), job_id(5), broker(6),
    * service_id(7), filename(8), n_periods(9),
    * detector_spectrum_map(10), control_topic(11), metadata(12). Only
    * the fields the engine models are populated; the rest stay absent
    * (reader defaults), which is legal FlatBuffers. */
  def encodePl72Fb(m: RunStartInfo, startTime: Long = 0L): Array[Byte] = {
    import FlatBuf._
    writeTable(Pl72Id, Seq(
      if (startTime == 0L) FAbsent else FU64(startTime), FAbsent, FAbsent,
      FStr(m.instrument_name), FAbsent, FStr(m.job_id), FAbsent, FAbsent,
      FStr(m.filename)))
  }

  // --- decode: one entry point per type ------------------------------

  /** Parse a bare wrdn JSON body (the form [[graft.streaming.Sinks
    * .dumpMessages]] writes and the reference's offline ingestor reads
    * back as done_writing_message_file). */
  def wrdnFromJsonBody(bodyText: String): Option[WritingFinished] =
    scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper().readTree(bodyText))
      .toOption.filter(_.isObject).map { n =>
        def str(f: String) = Option(n.get(f)).filterNot(_.isNull).map(_.asText()).getOrElse("")
        WritingFinished(str("service_id"), str("job_id"),
          Option(n.get("error_encountered")).exists(_.asBoolean()),
          str("file_name"), str("metadata"), str("message"))
      }

  /** Decode a wrdn payload; None on wrong type or corrupt bytes (the
    * caller treats None as "skip", matching the reference's
    * deserialise-failure path, scicat_kafka.py:180-190). */
  def decodeWrdn(payload: Array[Byte]): Option[WritingFinished] =
    schemaId(payload) match {
      case Some(WrdnId) => scala.util.Try {
        val t = FlatBuf.root(payload)
        WritingFinished(
          service_id = t.string(0).getOrElse(""),
          job_id = t.string(1).getOrElse(""),
          error_encountered = t.bool(2, default = false),
          file_name = t.string(3).getOrElse(""),
          metadata = t.string(4).getOrElse(""),
          message = t.string(5).getOrElse(""))
      }.toOption
      case _ => None
    }

  /** Decode a pl72 payload (fields the reference reads: job_id,
    * filename, instrument_name — scicat_sample_ingestor.py:186-188,211). */
  def decodePl72(payload: Array[Byte]): Option[RunStartInfo] =
    schemaId(payload) match {
      case Some(Pl72Id) => scala.util.Try {
        val t = FlatBuf.root(payload)
        RunStartInfo(
          job_id = t.string(5).getOrElse(""),
          filename = t.string(8).getOrElse(""),
          instrument_name = t.string(3).getOrElse(""))
      }.toOption
      case _ => None
    }
}
