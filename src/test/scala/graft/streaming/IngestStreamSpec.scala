package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IngestDemo
import graft.streaming.Messages._

/** End-to-end streaming parity: wrdn/pl72 type filters, error filter,
  * per-batch imsc pipeline, pid dedup, sample get-or-create — the
  * reference's E2E integration shape (tests/_scicat_ingestor.py) on a
  * MemoryStream source.
  */
object IngestStreamFixture extends Serializable {
  val nexusJson: String =
    """{"entry": {
      |  "doc_id": {"__value": ["7"]},
      |  "title": {"__value": ["stream run"]},
      |  "temperature": {"__value": [42.0], "__attrs": {"units": "K"}}}}""".stripMargin

  val reader: String => Option[String] = _ => Some(nexusJson)
  val lister: String => Seq[FileIngest.FileStats] =
    p => Seq(FileIngest.FileStats(p, Some(100L),
      "2024-01-01T00:00:00+00:00", None, None, None, None))
}

/** JVM-wide count of reader calls per path: task closures are
  * deserialized copies, so a counter they captured would count in the
  * copy. */
object ReadOnceFixture extends Serializable {
  val reads = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  /** /<dir>/<sub>/r<doc>-<temp>.nxs holds doc_id <doc>, temperature <temp> K. */
  val reader: String => Option[String] = { p =>
    reads.computeIfAbsent(p, _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    val Array(doc, temp) = p.split('/').last.stripPrefix("r").stripSuffix(".nxs").split('-')
    Some(s"""{"entry": {"doc_id": {"__value": ["$doc"]}, "title": {"__value": ["t$doc"]},
            |  "temperature": {"__value": [$temp.0], "__attrs": {"units": "K"}}}}""".stripMargin)
  }

  /** The dataset document of a kept file, as the pipeline emitted it
    * before reads were confined to one per row. */
  def document(doc: String, name: String, path: String, temp: String): String =
    s"""{"pid":"$doc","size":100,"numberOfFiles":1,"isPublished":false,"datasetName":"$name",""" +
      s""""principalInvestigator":"","creationLocation":"ESS:graft","scientificMetadata":""" +
      s"""{"sample_temperature":{"value":"$temp","unit":"K","human_name":"Sample Temperature",""" +
      s""""type":"string"}},"owner":"","ownerEmail":"","sourceFolder":"$path","contactEmail":"",""" +
      s""""creationTime":"2024-01-01T00:00:00+00:00","type":"raw","techniques":[],""" +
      s""""instrumentId":"","proposalId":"","ownerGroup":"","accessGroups":[],"runNumber":"$doc",""" +
      s""""origDataBlock":{"datasetId":"$doc","size":100,"chkAlg":"blake2b","dataFileList":""" +
      s"""[{"path":"$path","size":100,"time":"2024-01-01T00:00:00+00:00"}],""" +
      s""""ownerGroup":"","accessGroups":[]}}"""
}

/** F6/F7 through per-row probes: the catalog does not enumerate. */
final case class ProbeOnlyCatalog(inner: graft.catalog.Catalog) extends graft.catalog.Catalog {
  def lookupJson(url: String, field: String): Option[String] = inner.lookupJson(url, field)
  def querySamples(name: String, proposalId: String): Seq[String] = inner.querySamples(name, proposalId)
  def datasetExists(pid: String): Boolean = inner.datasetExists(pid)
  def metadataValueExists(key: String, value: String): Boolean = inner.metadataValueExists(key, value)
  def createDataset(datasetJson: String): String = inner.createDataset(datasetJson)
  def createOrigDatablock(datablockJson: String): String = inner.createOrigDatablock(datablockJson)
}

class IngestStreamSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def wrdn(file: String, error: Boolean = false) = MessageCodec.encodeWrdnFb(
    WritingFinished("svc", s"job-$file", error, file, "{}", "done"))

  private def cfg = IngestStream.Config(
    schemas = Seq(IngestDemo.schema),
    fileReader = IngestStreamFixture.reader,
    fileLister = IngestStreamFixture.lister)

  test("F1/F2: type + error filters on the binary stream") {
    val msgs = Seq(
      wrdn("/data/a/f1.nxs"),
      wrdn("/data/a/f2.nxs", error = true), // dropped by F2
      MessageCodec.encodePl72Fb(RunStartInfo("j", "/data/a/f1.nxs", "ymir")), // dropped by F1
      "garbage".getBytes("UTF-8")) // dropped by F1
      .toDF("value")
    val got = IngestStream.wrdnStream(msgs).collect()
    assert(got.map(_.getAs[String]("file_name")).toSeq == Seq("/data/a/f1.nxs"))
    val pl = IngestStream.runStartStream(msgs).collect()
    assert(pl.map(_.getAs[String]("instrument_name")).toSeq == Seq("ymir"))
  }

  test("streaming query end-to-end: decode → pipeline → sink") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val results = new ConcurrentLinkedQueue[Row]()

    val query = IngestStream.ingestQuery(
      input.toDF().withColumnRenamed("value", "value"),
      cfg,
      (batch, _) => batch.collect().foreach(results.add))

    input.addData(
      wrdn("/data/a/run1.nxs"),
      wrdn("/data/a/run2.nxs", error = true),
      wrdn("/other/path.nxs")) // no schema matches ('/data/' selector), no fallback
    query.processAllAvailable()
    input.addData(wrdn("/data/b/run3.nxs"))
    query.processAllAvailable()
    query.stop()

    val rows = results.toArray(Array.empty[Row])
    val names = rows.map(_.getAs[String]("datasetName")).sorted
    assert(names.toSeq == Seq("ds_stream run", "ds_stream run"))
    val sm = rows.head.getAs[Map[String, Row]]("scientificMetadata")
    assert(sm("sample_temperature").getAs[String]("value") == "42.0")
    assert(rows.head.getAs[Long]("size") == 100L)
  }

  test("F6: existing catalog pid is skipped (dedup anti-join)") {
    // IngestDemo schema has no pid item → pid null → anti-join keeps it;
    // use a schema with a pid item bound to the doc_id variable.
    val withPid = graft.schema.ImscSchema.fromYamlOrJson(
      IngestDemo.schemaYaml.replace("schema:",
        """schema:
          |  pid_item:
          |    field_type: high_level
          |    machine_name: pid
          |    value: <doc_key>
          |    type: string
          |""".stripMargin))
    val catalog = graft.catalog.LocalCatalog(Map("datasets/7" -> "{}"))
    val batch = Seq(("svc", "j1", false, "/data/a/r.nxs", "{}", "ok"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
    val out = IngestStream.processBatch(batch,
      cfg.copy(schemas = Seq(withPid), catalog = catalog))
    assert(out.count() == 0) // pid "7" already exists → skipped

    val outNew = IngestStream.processBatch(batch, cfg.copy(schemas = Seq(withPid)))
    assert(outNew.count() == 1) // empty catalog → ingested
  }

  test("each file is read once per row, only in its own schema's branch") {
    val pidItem =
      """schema:
        |  pid_item:
        |    field_type: high_level
        |    machine_name: pid
        |    value: <doc_key>
        |    type: string
        |""".stripMargin
    val data = graft.schema.ImscSchema.fromYamlOrJson(
      IngestDemo.schemaYaml.replace("schema:", pidItem))
    val beam = graft.schema.ImscSchema.fromYamlOrJson(IngestDemo.schemaYaml
      .replace("schema:", pidItem)
      .replace("id: ingest-demo", "id: beam")
      .replace("starts_with:/data/", "starts_with:/beam/")
      .replace("value: ds_<title>", "value: beam_<title>"))
    // pid 2 is a replay (F6); temperature 42.0 is already catalogued (F7)
    val catalog = ProbeOnlyCatalog(graft.catalog.LocalCatalog(Map(
      "datasets/2" -> "{}",
      "datasets/old" ->
        """{"scientificMetadata": {"sample_temperature": {"value": "42.0", "unit": "K"}}}""")))
    val files = Seq("/data/a/r1-10.nxs", "/data/a/r2-20.nxs", "/beam/b/r3-30.nxs",
      "/beam/b/r4-42.nxs", "/other/r5-50.nxs")
    val batch = files.map(f => ("svc", s"job-$f", false, f, "{}", "ok"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
      .repartition(3)
    ReadOnceFixture.reads.clear()
    val out = IngestStream.processBatch(batch, cfg.copy(
      schemas = Seq(data, beam), catalog = catalog, fileReader = ReadOnceFixture.reader,
      dedupMetadataKey = Some("sample_temperature")))
    val rows = out.select(org.apache.spark.sql.functions.to_json(
      org.apache.spark.sql.functions.struct("*"))).as[String].collect().sorted.toSeq

    import scala.jdk.CollectionConverters._
    val reads = ReadOnceFixture.reads.asScala.map { case (p, n) => p -> n.get }.toMap
    assert(reads == files.filterNot(_.startsWith("/other/")).map(_ -> 1).toMap)
    assert(rows == Seq(
      ReadOnceFixture.document("1", "ds_t1", "/data/a/r1-10.nxs", "10.0"),
      ReadOnceFixture.document("3", "beam_t3", "/beam/b/r3-30.nxs", "30.0")))
  }

  test("sample get-or-create anti-join (J5/§3.3)") {
    val pl72 = Seq(
      ("j1", "sampleA", "ymir"), ("j2", "sampleA", "ymir"), // dup in batch
      ("j3", "sampleB", "ymir"), ("j4", "sampleA", "coda"))
      .toDF("job_id", "filename", "instrument_name")
    // sampleB/ymir exists: the catalog probe drops it, as an anti-join would
    val catalog = graft.catalog.LocalCatalog(Map("samples/sampleB/ymir" -> """["s1"]"""))
    val created = SampleIngestor.processSampleBatch(pl72, catalog)
    try {
      val got = created.select("filename", "instrument_name").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("sampleA", "ymir"), ("sampleA", "coda")))

      // PLAN GUARD on the plan that ran the POSTs: nothing re-hashes
      // after the instrument repartition, so each instrument's creates
      // stay in one partition in sorted order (the ADR-003 per-instrument
      // ordering). The OUTERMOST exchange is the instrument repartition
      // and the per-instrument sort sits above it.
      val plan = spark.sharedState.cacheManager
        .lookupCachedData(created.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(_.cachedRepresentation.cacheBuilder.cachedPlan.toString).getOrElse("")
      val lines = plan.linesIterator.toVector
      val outermost = lines.indexWhere(_.contains("Exchange hashpartitioning"))
      assert(outermost >= 0 && lines(outermost).contains("instrument_name") &&
        !lines(outermost).contains("filename"),
        s"outermost exchange must be the instrument repartition:\n$plan")
      assert(lines.take(outermost).exists(l =>
        l.contains("Sort [instrument_name") && l.contains("filename")),
        s"the per-instrument sort must sit above the repartition:\n$plan")
      // the dedup reuses the instrument clustering: one shuffle in the
      // plan that ran (an adaptive plan also prints its initial plan)
      val ran = lines.takeWhile(!_.contains("== Initial Plan =="))
      assert(ran.count(_.contains("Exchange")) == 1, s"one exchange expected:\n$plan")
    } finally created.unpersist()
  }

  test("S10: open-retry clamps delays and stops at success") {
    // the file appears during the first sleep, as bytes that are not
    // HDF5: the open succeeds, so retrying stops and the parse failure
    // yields None (F11)
    val late = java.nio.file.Files.createTempDirectory("graft_retry").resolve("late.nxs")
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val reader = graft.sources.Hdf5Reader.fileReaderWith(Seq(0.001, 5.0), sleeper = { ms =>
      slept += ms
      java.nio.file.Files.write(late, "not hdf5".getBytes("UTF-8"))
    })
    assert(reader(late.toString).isEmpty)
    assert(slept.toSeq == Seq(1000L)) // 0.001 clamped up to 1 s; second delay unused
  }

  test("S8: checksum streams a multi-block file to the one-shot digest") {
    val bytes = new Array[Byte](3 * 128 * 1024 + 77)
    new scala.util.Random(8).nextBytes(bytes)
    val file = java.nio.file.Files.createTempFile("graft_chk", ".nxs")
    java.nio.file.Files.write(file, bytes)
    assert(FileIngest.checksum(file) == graft.functions.Blake2b.hashHex(bytes))
    assert(FileIngest.checksum(file, "sha256") == graft.functions.Blake2b.hex(
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)))
  }

  test("S8/F11: a read failure leaves chk null instead of throwing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_chk") // opens, but read fails
    val stats = FileIngest.stat(dir.toString, computeHash = true)
    assert(stats.size.isDefined && stats.chk.isEmpty)
  }
}

class SinksSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("K1/K2/F10: dataset sink writes null-stripped JSON lines; K5 dry-run skips") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val batch = Seq(("svc", "j1", false, "/data/a/r.nxs", "{}", "ok"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
    val cfg = IngestStream.Config(
      schemas = Seq(IngestDemo.schema),
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    val datasets = IngestStream.processBatch(batch, cfg)
    Sinks.jsonDatasetSink(out)(datasets, 0L)
    val ds = Sinks.readJsonLines(s"$out/datasets_00000")
    assert(ds.contains("\"datasetName\":\"ds_stream run\""))
    assert(!ds.contains("\"pid\"")) // null pid stripped (F10)
    val db = Sinks.readJsonLines(s"$out/origdatablocks_00000")
    assert(db.contains("\"chkAlg\":\"blake2b\""))

    val dry = java.nio.file.Files.createTempDirectory("graft_dry").toString
    Sinks.jsonDatasetSink(dry + "/sub", dryRun = true)(datasets, 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dry, "sub")))
  }

  test("K3: raw message dump writes one JSON per file") {
    val out = java.nio.file.Files.createTempDirectory("graft_dump").toString
    val batch = Seq(("svc", "j1", false, "/data/a/r.nxs", "{\"k\":1}", "ok"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
    Sinks.dumpMessages(batch, out)
    val body = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "r.nxs.json"))
    assert(body.contains("\"job_id\":\"j1\"") && body.contains("{\\\"k\\\":1}"))
  }
}

class DedupAndSampleSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def batchDf = Seq(("svc", "j1", false, "/data/a/r.nxs", "{}", "ok"))
    .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")

  private def baseCfg = IngestStream.Config(
    schemas = Seq(IngestDemo.schema),
    fileReader = IngestStreamFixture.reader,
    fileLister = IngestStreamFixture.lister)

  test("F7: dedup by scientificMetadata key value") {
    // IngestDemo schema writes sample_temperature value "42.0"
    val existing = graft.catalog.LocalCatalog(Map(
      "datasets/other-pid" ->
        """{"scientificMetadata": {"sample_temperature": {"value": "42.0", "unit": "K"}}}"""))
    val deduped = IngestStream.processBatch(batchDf,
      baseCfg.copy(catalog = existing, dedupMetadataKey = Some("sample_temperature")))
    assert(deduped.count() == 0) // same metadata value exists → skipped

    val kept = IngestStream.processBatch(batchDf,
      baseCfg.copy(catalog = existing, dedupMetadataKey = Some("other_key")))
    assert(kept.count() == 1) // different key → no match → ingested
  }

  test("P19+J2+J4: sample attachment reads fixed paths, queries catalog, merges") {
    val nexusWithSample =
      """{"entry": {
        |  "doc_id": {"__value": ["7"]},
        |  "title": {"__value": ["stream run"]},
        |  "temperature": {"__value": [42.0], "__attrs": {"units": "K"}},
        |  "sample": {"name": {"__value": ["crystal-A"]}},
        |  "experiment_identifier": {"__value": ["prop-9"]}}}""".stripMargin
    val catalog = graft.catalog.LocalCatalog(Map(
      "samples/crystal-A/prop-9" -> """["sample-pid-1", "sample-pid-2"]"""))
    val out = IngestStream.processBatch(batchDf, baseCfg.copy(
      catalog = catalog,
      fileReader = (_: String) => Some(nexusWithSample),
      sampleAttachment = IngestStream.SampleAttachment(querySampleName = true)))
    val row = out.collect()(0)
    val ids = row.getAs[scala.collection.Seq[String]]("sampleId")
    assert(ids != null && ids.sorted.toSeq == Seq("sample-pid-1", "sample-pid-2"))
  }
}
