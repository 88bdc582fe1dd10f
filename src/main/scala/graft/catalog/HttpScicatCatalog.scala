package graft.catalog

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.util.{Failure, Success, Try}

import graft.schema.ConfigValue
import graft.schema.ConfigValue._

/** Raised when a dataset POST gets a non-OK backend response
  * (ref: ScicatDatasetAPIError, scicat_communication.py:27-28,66-74). */
final class ScicatDatasetAPIError(msg: String) extends RuntimeException(msg)

/** Raised when an origdatablock POST gets a non-OK backend response
  * (ref: ScicatOrigDatablockAPIError, scicat_communication.py:85-115). */
final class ScicatOrigDatablockAPIError(msg: String) extends RuntimeException(msg)

/** HTTP implementation of [[Catalog]] over `java.net.http` — the thin
  * REST client the reference implements with `requests`
  * (ref: src/scicat_communication.py:31-45 GET/POST plumbing, with the
  * bearer-token headers of SciCatOptions.headers,
  * scicat_configuration.py:388-394).
  *
  * Serializable by construction: the `HttpClient` is a @transient lazy
  * val, so the catalog can ride inside UDF closures and
  * `foreachPartition` sinks. Every deserialized copy in a JVM shares one
  * client (and its connection pool); each request carries the
  * catalog's own `timeoutMs`, which also bounds the connect.
  *
  * Failure semantics mirror the reference:
  *  - existence probes (F6/F7): 2xx = exists, 404 = not-exists, any
  *    other status logs a warning and assumes not-exists
  *    (scicat_communication.py:174-193,215-236). Transport errors
  *    (timeout, refused) also assume not-exists — the reference would
  *    crash its process there; the engine degrades to "maybe duplicate"
  *    rather than losing the batch.
  *  - creation POSTs (K1/K2): non-OK raises, carrying the backend error
  *    (scicat_communication.py:66-74,107-115).
  *  - lookups (J1/J2): failures → None/empty, the F11 nulling contract.
  */
final case class HttpScicatCatalog(
    baseUrl: String,
    token: String = "",
    timeoutMs: Long = 10000,
    additionalHeaders: Map[String, String] = Map.empty) extends Catalog {

  private def base = if (baseUrl.endsWith("/")) baseUrl else baseUrl + "/"

  @transient private[catalog] lazy val client: HttpClient = HttpScicatCatalog.client

  @transient private lazy val log =
    org.apache.log4j.Logger.getLogger(classOf[HttpScicatCatalog])

  /** `render_full_url` analogue (scicat_communication.py:125-131):
    * absolute URLs pass through, endpoint-relative paths join the base. */
  def renderUrl(url: String): String =
    if (url.startsWith("http://") || url.startsWith("https://")) url
    else base + url

  private def withHeaders(b: HttpRequest.Builder): HttpRequest.Builder = {
    val all = additionalHeaders + ("Authorization" -> s"Bearer $token")
    all.foldLeft(b) { case (acc, (k, v)) => acc.header(k, v) }
  }

  private def send(req: HttpRequest): Try[(Int, String)] = Try {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def get(url: String): Try[(Int, String)] = send(
    withHeaders(HttpRequest.newBuilder(URI.create(url)))
      .timeout(Duration.ofMillis(timeoutMs)).GET().build())

  private def post(url: String, body: String): Try[(Int, String)] = send(
    withHeaders(HttpRequest.newBuilder(URI.create(url)))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build())

  private def ok(status: Int): Boolean = status >= 200 && status < 300

  private def quotePlus(s: String): String = URLEncoder.encode(s, UTF_8)

  override def lookupJson(url: String, field: String): Option[String] =
    get(renderUrl(url)) match {
      case Success((status, body)) if ok(status) => Catalog.projectField(body, field)
      case Success((status, _)) =>
        log.warn(s"lookup $url failed with status $status"); None
      case Failure(e) =>
        log.warn(s"lookup $url failed: ${e.getMessage}"); None
    }

  override def querySamples(name: String, proposalId: String): Seq[String] = {
    val filter = quotePlus(
      s"""{"where":{"description":${jstr(name)},"proposalId":${jstr(proposalId)}}}""")
    get(base + "samples?filter=" + filter) match {
      case Success((status, body)) if ok(status) =>
        Try(ConfigValue.fromJson(body)).toOption.toSeq.flatMap {
          case CSeq(items) => items.collect {
            case m: CMap if m.getStr("sampleId").isDefined => m.getStr("sampleId").get
          }
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
  }

  override def datasetExists(pid: String): Boolean =
    get(base + "datasets/" + quotePlus(pid)) match {
      case Success((status, _)) if ok(status) => true
      case Success((404, _)) => false
      case Success((status, _)) =>
        log.warn(s"exists-by-pid $pid: status $status, assuming not exists"); false
      case Failure(e) =>
        log.warn(s"exists-by-pid $pid failed (${e.getMessage}), assuming not exists"); false
    }

  /** NOTE the deliberate divergence: the reference treats any 2xx as
    * "exists" (scicat_communication.py:213), but SciCat answers a
    * no-match filter query with 200 + `[]` — taking that as "exists"
    * would mark every record duplicate. The engine requires a non-empty
    * result list. */
  override def metadataValueExists(key: String, value: String): Boolean = {
    val url = base + "datasets?filter=" + quotePlus(
      s"""{"where":{"scientificMetadata.$key.value":${jstr(value)}}}""")
    get(url) match {
      case Success((status, body)) if ok(status) =>
        Try(ConfigValue.fromJson(body)).toOption.exists {
          case CSeq(items) => items.nonEmpty
          case _: CMap => true
          case _ => false
        }
      case Success((404, _)) => false
      case Success((status, _)) =>
        log.warn(s"exists-by-metadata $key: status $status, assuming not exists"); false
      case Failure(e) =>
        log.warn(s"exists-by-metadata $key failed (${e.getMessage}), assuming not exists"); false
    }
  }

  override def createDataset(datasetJson: String): String =
    post(base + "datasets", datasetJson) match {
      case Success((status, body)) if ok(status) => body
      case Success((status, body)) =>
        throw new ScicatDatasetAPIError(
          s"Error creating new dataset (status $status): $body")
      case Failure(e) =>
        throw new ScicatDatasetAPIError(s"Error creating new dataset: ${e.getMessage}")
    }

  override def createOrigDatablock(datablockJson: String): String =
    post(base + "origdatablocks", datablockJson) match {
      case Success((status, body)) if ok(status) => body
      case Success((status, body)) =>
        throw new ScicatOrigDatablockAPIError(
          s"Error creating new origdatablock (status $status): $body")
      case Failure(e) =>
        throw new ScicatOrigDatablockAPIError(
          s"Error creating new origdatablock: ${e.getMessage}")
    }

  /** ref body: ownerGroup/accessGroups = proposalId, isPublished false
    * (src/scicat_sample_ingestor.py:99-106); non-OK warns, not raises. */
  override def createSample(sampleName: String, proposalId: String): Unit = {
    val body =
      s"""{"ownerGroup":${jstr(proposalId)},"accessGroups":[${jstr(proposalId)}],""" +
        s""""description":${jstr(sampleName)},"proposalId":${jstr(proposalId)},""" +
        s""""isPublished":false}"""
    post(base + "samples", body) match {
      case Success((status, _)) if ok(status) => ()
      case Success((status, resp)) =>
        log.warn(s"Posting a sample failed (status $status): $resp")
      case Failure(e) => log.warn(s"Posting a sample failed: ${e.getMessage}")
    }
  }

  private def jstr(s: String): String = graft.sources.NexusExtractor.jsonStr(s)
}

object HttpScicatCatalog {
  private lazy val client: HttpClient = HttpClient.newHttpClient()
}
