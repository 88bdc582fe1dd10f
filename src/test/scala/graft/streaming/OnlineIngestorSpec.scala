package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{IngestLogging, IngestorConfig}
import graft.operators.IngestDemo

/** The daemon glue without a broker: schema-directory loading, config →
  * stream-config mapping, the health endpoint's probe/status contract,
  * and the logging builder (ref: scicat_online_ingestor.py main,
  * scicat_health_check.py, scicat_logging.py).
  */
class OnlineIngestorSpec extends AnyFunSuite {

  private def schemasDir = {
    val dir = Files.createTempDirectory("graft_schemas_run")
    Files.writeString(dir.resolve("demo.imsc.yml"), IngestDemo.schemaYaml)
    Files.writeString(dir.resolve("second.imsc.yml"),
      IngestDemo.schemaYaml
        .replace("id: ingest-demo", "id: second")
        .replace("order: 1", "order: 0"))
    dir
  }

  test("loadSchemas parses the directory in (order, name) order + fallback") {
    val dir = schemasDir
    val fallbackFile = dir.resolve("fallback.yml") // not an imsc name → not collected by the dir scan
    Files.writeString(fallbackFile,
      IngestDemo.schemaYaml.replace("id: ingest-demo", "id: fb"))
    val cfg = IngestorConfig.load(
      s"""ingestion:
         |  schemas_directory: "$dir"
         |  fallback_schema_file_path: "$fallbackFile"
         |""".stripMargin)
    val (schemas, fallback) = OnlineIngestor.loadSchemas(cfg)
    assert(schemas.map(_.id) == Seq("second", "ingest-demo")) // order 0 first
    assert(fallback.map(_.id).contains("fb"))
  }

  test("buildStreamConfig maps dedup key, catalog, assembly options, retries") {
    val cfg = IngestorConfig.load(
      s"""ingestion:
         |  schemas_directory: "$schemasDir"
         |  check_if_dataset_exists_by_metadata: true
         |  check_if_dataset_exists_by_metadata_key: "run_number"
         |  file_handling:
         |    file_path_type: "absolute"
         |scicat:
         |  host: "http://h:3000/api/v3"
         |""".stripMargin)
    val sc = OnlineIngestor.buildStreamConfig(cfg)
    assert(sc.dedupMetadataKey.contains("run_number"))
    assert(sc.options.filePathType == "absolute")
    assert(sc.catalog.asInstanceOf[graft.catalog.HttpScicatCatalog]
      .baseUrl == "http://h:3000/api/v3")
    assert(sc.schemas.nonEmpty && sc.fallback.isEmpty)

    val noDedup = OnlineIngestor.buildStreamConfig(IngestorConfig.load(
      s"""ingestion:
         |  schemas_directory: "$schemasDir"
         |  check_if_dataset_exists_by_metadata: false
         |""".stripMargin))
    assert(noDedup.dedupMetadataKey.isEmpty)
  }

  test("the built reader's text holds the schemas' NXS paths and the P19 sample paths only") {
    import graft.functions.PyLiteral._
    import graft.sources.NexusTree
    import perfbench.Hdf5Writer
    import perfbench.Hdf5Writer.{Data, Group}
    def text(s: String) = Data(PyList(Vector(PyStr(s))))
    val stand = Group(Vector("entry" -> Group(Vector(
      "doc_id" -> text("7"),
      "title" -> Data(PyStr("pruned run"), vlen = true),
      "temperature" -> Data(PyList(Vector(PyFloat(42.0))), Map("units" -> "K")),
      "experiment_identifier" -> text("100001"),
      "sample" -> Group(Vector("name" -> text("a sample"), "mass" -> text("1 g"))),
      "detector" -> Data(PyList(Vector.tabulate(64)(i => PyInt(i.toLong))))))))
    val f = Files.createTempFile("graft_pruned", ".nxs")
    Files.write(f, Hdf5Writer.write(stand))
    val dir = schemasDir
    val fallback = dir.resolve("fallback.yml")
    Files.writeString(fallback, IngestDemo.schemaYaml.replace("id: ingest-demo", "id: fb")
      .replace("/entry/title", "/entry/sample/*"))
    val sc = OnlineIngestor.buildStreamConfig(IngestorConfig.load(
      s"""ingestion:
         |  schemas_directory: "$dir"
         |  fallback_schema_file_path: "$fallback"
         |""".stripMargin))
    val root = NexusTree.fromJson(sc.fileReader(f.toString).getOrElse(fail("no text")))
    val whole = Hdf5Writer.toNexusRoot(stand)
    val kept = Seq("/entry/doc_id", "/entry/title", "/entry/temperature",
      "/entry/sample/name", "/entry/sample/mass", "/entry/experiment_identifier")
    for (p <- kept) assert(NexusTree.resolve(root, p) == NexusTree.resolve(whole, p), p)
    assert(NexusTree.resolve(root, "/entry/detector").isEmpty)
    assert(NexusTree.resolve(whole, "/entry/detector").nonEmpty)
  }

  test("compute_file_hash sets origDataBlock chk under file_hash_algorithm; off leaves it null") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val dir = schemasDir
    val fallback = dir.resolve("fallback.yml") // matches every file path
    Files.writeString(fallback, IngestDemo.schemaYaml.replace("id: ingest-demo", "id: fb"))
    val data = Files.createTempFile("graft_hash", ".nxs")
    val bytes = "not really hdf5".getBytes("UTF-8")
    Files.write(data, bytes)
    def chk(fileHandling: String, file: java.nio.file.Path = data): (String, String) = {
      val batch = Seq(("svc", "j1", false, file.toString, "{}", "ok"))
        .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
      val sc = OnlineIngestor.buildStreamConfig(IngestorConfig.load(
        s"""ingestion:
           |  schemas_directory: "$dir"
           |  fallback_schema_file_path: "$fallback"
           |  file_handling:
           |$fileHandling
           |""".stripMargin),
        catalog = Some(graft.catalog.LocalCatalog.empty),
        fileReader = Some(IngestStreamFixture.reader))
      val block = IngestStream.processBatch(batch, sc).select("origDataBlock").head().getStruct(0)
      val files = block.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("dataFileList")
      (block.getAs[String]("chkAlg"), files.head.getAs[String]("chk"))
    }
    assert(chk("    compute_file_hash: true") == ("blake2b", graft.functions.Blake2b.hashHex(bytes)))
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(chk("    file_hash_algorithm: sha256") == ("sha256", sha)) // hashing is on by default
    assert(chk("    compute_file_hash: false") == ("blake2b", null))
    // a file whose read fails still yields its dataset, with a null chk
    assert(chk("    compute_file_hash: true", file = dir) == ("blake2b", null))
    intercept[java.security.NoSuchAlgorithmException] {
      chk("    file_hash_algorithm: no-such-digest")
    }
  }

  test("health endpoint: 200 when all probes pass, 503 otherwise, 404 elsewhere") {
    var kafkaUp = true
    val server = HealthCheck.start(
      IngestorConfig.HealthCheckConfig(host = "localhost", port = 0),
      HealthCheck.Probes(() => kafkaUp, () => true, () => true))
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def hit(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ok = hit("/health")
      assert(ok.statusCode() == 200)
      assert(ok.body().contains("\"kafka\": true") && ok.body().contains("\"scicat\": true"))
      kafkaUp = false
      val bad = hit("/health")
      assert(bad.statusCode() == 503 && bad.body().contains("\"kafka\": false"))
      assert(hit("/other").statusCode() == 404)
    } finally server.stop(0)
  }

  test("storage probe: unset/missing directories fail, listable passes") {
    assert(!HealthCheck.storageProbe("")())
    assert(!HealthCheck.storageProbe("/no/such/dir")())
    assert(HealthCheck.storageProbe(Files.createTempDirectory("graft_data").toString)())
  }

  test("scicat probe maps 2xx-lookup to healthy") {
    val up = graft.catalog.LocalCatalog(Map("health" -> "{}"))
    assert(HealthCheck.scicatProbe(up)())
    assert(!HealthCheck.scicatProbe(graft.catalog.LocalCatalog.empty)())
  }

  test("logging: reference format prefix, level mapping, file handler") {
    assert(IngestLogging.pattern("SFI").startsWith("SFI - "))
    val cfg = IngestorConfig.LoggingConfig(loggingLevel = "WARN")
    assert(IngestLogging.buildLogger(cfg, "t1").getLevel == org.apache.log4j.Level.WARN)
    assert(IngestLogging.buildLogger(cfg.copy(verbose = true), "t2")
      .getLevel == org.apache.log4j.Level.DEBUG)

    val tmp = Files.createTempDirectory("graft_log")
    val fileCfg = IngestorConfig.LoggingConfig(
      fileLog = true, fileLogBaseName = s"$tmp/ingestor", fileLogTimestamp = false)
    val logger = IngestLogging.buildLogger(fileCfg, "t3")
    logger.warn("file-handler-works")
    val body = Files.readString(java.nio.file.Paths.get(s"$tmp/ingestor_.log"))
    assert(body.contains("file-handler-works") && body.startsWith("SFI - "))

    val stamped = IngestLogging.logFileName(
      fileCfg.copy(fileLogTimestamp = true),
      clock = () => java.time.Instant.parse("2024-02-03T04:05:06.123456Z"))
    assert(stamped == s"$tmp/ingestor_20240203040506123456_.log")
  }
}
