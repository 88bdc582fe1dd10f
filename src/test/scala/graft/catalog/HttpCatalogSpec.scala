package graft.catalog

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IngestDemo
import graft.streaming.{IngestStream, IngestStreamFixture, Sinks}

/** [[HttpScicatCatalog]] against an in-process HTTP stub: REST parity
  * for the GET lookups (J1/J2), existence probes (F6/F7), POST
  * creation with raise-on-non-OK (K1/K2), bearer-token headers, and
  * timeout degradation — then the full processBatch matrix and the
  * executor-side REST sink running through the HTTP catalog.
  */
class HttpCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var port: Int = 0
  val posted = new ConcurrentLinkedQueue[(String, String)]()
  val seenAuth = new ConcurrentLinkedQueue[String]()

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api/v3/", (ex: HttpExchange) => {
      seenAuth.add(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v3/")
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      (ex.getRequestMethod, path) match {
        case ("GET", "instrument/42") =>
          respond(ex, 200, """{"name": "ymir", "id": 42}""")
        case ("GET", "slow") =>
          Thread.sleep(2000); respond(ex, 200, "{}")
        case ("GET", "datasets/existing-pid") => respond(ex, 200, "{}")
        case ("GET", "datasets/broken-pid") => respond(ex, 500, "oops")
        case ("GET", "datasets/slow-pid") =>
          Thread.sleep(2000); respond(ex, 200, "{}")
        case ("GET", p) if p.startsWith("datasets/") => respond(ex, 404, "not found")
        case ("GET", "datasets") => // filter probe (F7)
          if (query.contains("42.0")) respond(ex, 200, """[{"pid": "p1"}]""")
          else respond(ex, 200, "[]")
        case ("GET", "samples") =>
          if (query.contains("crystal-A")) respond(ex, 200,
            """[{"sampleId": "s1"}, {"noId": 1}, {"sampleId": "s2"}]""")
          else respond(ex, 200, "[]")
        case ("POST", "datasets") =>
          if (body.contains("\"poison\"")) respond(ex, 500, """{"error": "boom"}""")
          else { posted.add(("dataset", body)); respond(ex, 201, """{"pid": "PID-1"}""") }
        case ("POST", "origdatablocks") =>
          posted.add(("datablock", body)); respond(ex, 201, """{"_id": "DB-1"}""")
        case _ => respond(ex, 404, "no route")
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def catalog = HttpScicatCatalog(
    s"http://localhost:$port/api/v3/", token = "tok-123", timeoutMs = 5000)

  test("lookupJson GETs with bearer token, projects a field") {
    assert(catalog.lookupJson("instrument/42", "name").contains("\"ymir\""))
    assert(catalog.lookupJson("instrument/42", "id").contains("42"))
    assert(catalog.lookupJson("instrument/42", "").contains("""{"name": "ymir", "id": 42}"""))
    assert(catalog.lookupJson("instrument/42", "missing").isEmpty)
    assert(catalog.lookupJson("nope/1", "x").isEmpty)
    assert(seenAuth.contains("Bearer tok-123"))
  }

  test("renderUrl joins endpoint-relative paths, passes absolute through") {
    assert(catalog.renderUrl("datasets/1") == s"http://localhost:$port/api/v3/datasets/1")
    assert(catalog.renderUrl("http://other/x") == "http://other/x")
  }

  test("F6 probe: 200 exists, 404 not, 500 warns and assumes not") {
    assert(catalog.datasetExists("existing-pid"))
    assert(!catalog.datasetExists("unknown-pid"))
    assert(!catalog.datasetExists("broken-pid")) // 500 → assume not exists
  }

  test("F7 probe: non-empty filter result = exists, empty = not") {
    assert(catalog.metadataValueExists("sample_temperature", "42.0"))
    assert(!catalog.metadataValueExists("sample_temperature", "7.0"))
  }

  test("J2 sample query extracts sampleIds, skips malformed entries") {
    assert(catalog.querySamples("crystal-A", "prop-9") == Seq("s1", "s2"))
    assert(catalog.querySamples("other", "prop-9").isEmpty)
  }

  test("K1/K2 POST returns backend doc; non-OK raises the typed error") {
    assert(catalog.createDataset("""{"datasetName": "d"}""").contains("PID-1"))
    assert(catalog.createOrigDatablock("""{"size": 1}""").contains("DB-1"))
    val e = intercept[ScicatDatasetAPIError] {
      catalog.createDataset("""{"datasetName": "poison"}""")
    }
    assert(e.getMessage.contains("500") && e.getMessage.contains("boom"))
  }

  test("timeouts degrade: lookup None, probe assumes not-exists, POST raises") {
    val fast = catalog.copy(timeoutMs = 300)
    assert(fast.lookupJson("slow", "x").isEmpty)
    assert(!fast.datasetExists("slow-pid"))
    intercept[ScicatDatasetAPIError] {
      HttpScicatCatalog(s"http://localhost:1/api/v3/", timeoutMs = 300)
        .createDataset("{}")
    }
  }

  test("deserialized copies share one HttpClient per JVM") {
    def roundTrip(c: HttpScicatCatalog): HttpScicatCatalog = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(c)
      out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[HttpScicatCatalog]
    }
    val (a, b) = (roundTrip(catalog), roundTrip(catalog))
    assert(a ne b)
    assert(a.client eq b.client)
    assert(a.datasetExists("existing-pid") && !b.datasetExists("unknown-pid"))
    assert(roundTrip(catalog.copy(timeoutMs = 300)).client eq a.client)
  }

  test("processBatch F6/F7 matrix over the HTTP catalog (per-row executor probes)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val withPid = graft.schema.ImscSchema.fromYamlOrJson(
      IngestDemo.schemaYaml.replace("schema:",
        """schema:
          |  pid_item:
          |    field_type: high_level
          |    machine_name: pid
          |    value: existing-pid
          |    type: string
          |""".stripMargin))
    val batch = Seq(("svc", "j1", false, "/data/a/r.nxs", "{}", "ok"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
    val cfg = IngestStream.Config(
      schemas = Seq(withPid),
      catalog = catalog,
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    // F6: pid "existing-pid" → 200 → dropped
    assert(IngestStream.processBatch(batch, cfg).count() == 0)
    // F7: the IngestDemo schema writes sample_temperature 42.0, which the
    // stub reports as existing → dropped; an unknown key survives
    val cfgNoPid = IngestStream.Config(
      schemas = Seq(IngestDemo.schema), catalog = catalog,
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    assert(IngestStream.processBatch(batch,
      cfgNoPid.copy(dedupMetadataKey = Some("sample_temperature"))).count() == 0)
    assert(IngestStream.processBatch(batch,
      cfgNoPid.copy(dedupMetadataKey = Some("unknown_key"))).count() == 1)
  }

  test("full streaming loop: FlatBuffers wrdn → HTTP-probed dedup → REST POST") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.streaming.{IngestStream, MessageCodec, Messages, Sinks}
    posted.clear()
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Array[Byte]]
    val cfg = IngestStream.Config(
      schemas = Seq(IngestDemo.schema), catalog = catalog,
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    val query = IngestStream.ingestQuery(
      input.toDF(), cfg, Sinks.restDatasetSink(catalog))
    input.addData(
      MessageCodec.encodeWrdnFb(Messages.WritingFinished(
        "fw", "j-http-1", false, "/data/a/http1.nxs", "{}", "ok")),
      MessageCodec.encodeWrdnFb(Messages.WritingFinished(
        "fw", "j-http-2", true, "/data/a/http2.nxs", "{}", "boom"))) // error → dropped
    query.processAllAvailable()
    query.stop()
    val kinds = posted.toArray(Array.empty[(String, String)])
    assert(kinds.map(_._1).sorted.toSeq == Seq("datablock", "dataset"),
      s"exactly the good message should POST, got: ${kinds.map(_._1).toSeq}")
    assert(kinds.find(_._1 == "dataset").get._2.contains("\"datasetName\""))
  }

  test("restDatasetSink POSTs dataset + datablock from executors; dry-run skips") {
    val spark = TestSpark.spark
    import spark.implicits._
    posted.clear()
    val batch = Seq(("svc", "j1", false, "/data/a/r.nxs", "{}", "ok"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
    val cfg = IngestStream.Config(
      schemas = Seq(IngestDemo.schema), catalog = catalog,
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    val datasets = IngestStream.processBatch(batch, cfg)
    Sinks.restDatasetSink(catalog)(datasets, 0L)
    val kinds = posted.toArray(Array.empty[(String, String)])
    assert(kinds.map(_._1).sorted.toSeq == Seq("datablock", "dataset"))
    assert(kinds.find(_._1 == "dataset").get._2.contains("\"datasetName\""))
    assert(kinds.find(_._1 == "datablock").get._2.contains("\"chkAlg\""))
    posted.clear()
    Sinks.restDatasetSink(catalog, dryRun = true)(datasets, 1L)
    assert(posted.isEmpty)
  }
}
