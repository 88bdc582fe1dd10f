package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.IngestorConfig
import graft.sources.Hdf5Fixtures

/** The reference's two non-daemon entry points without a broker:
  * the per-file offline ingestor (ref: scicat_offline_ingestor.py) end
  * to end through the production HDF5 reader, and the sample
  * get-or-create batch (ref: scicat_sample_ingestor.py) over a probing
  * catalog. The two offline runs read the reference's REAL small-ymir
  * fixture where it exists, else the generated small-ymir stand-in of
  * [[graft.sources.Hdf5Fixtures]]: they assert only that a row with a
  * pid comes out and dedups, which any file carrying the schema's NXS
  * paths shows.
  */
object OfflineIngestorSpec {
  // recording catalog for the sample path (companion-object state works
  // in local mode: the closure deserializes but the queue is static)
  val createdSamples = new ConcurrentLinkedQueue[(String, String)]()
  val sampleProbes = new java.util.concurrent.atomic.AtomicInteger()
  final case class RecordingCatalog(existing: Set[(String, String)], failPosts: Boolean = false)
      extends graft.catalog.Catalog {
    def lookupJson(url: String, field: String): Option[String] = None
    def querySamples(name: String, proposalId: String): Seq[String] = {
      sampleProbes.incrementAndGet()
      if (existing((name, proposalId))) Seq("s1") else Seq.empty
    }
    def datasetExists(pid: String): Boolean = false
    def metadataValueExists(key: String, value: String): Boolean = false
    def createDataset(json: String): String = json
    def createOrigDatablock(json: String): String = json
    override def createSample(name: String, proposalId: String): Unit =
      if (failPosts) throw new RuntimeException("injected sample POST failure")
      else createdSamples.add((name, proposalId))
  }
}

class OfflineIngestorSpec extends AnyFunSuite {
  import TestSpark.spark
  import OfflineIngestorSpec._

  val ymir = "/root/reference/test-data/small-ymir.hdf"
  private lazy val anyYmir = Hdf5Fixtures.orGenerated(ymir)

  private val ymirSchemaYaml =
    """id: ymir-offline
      |name: Ymir Offline Schema
      |instrument: ymir
      |selector: filename:contains:small-ymir
      |order: 1
      |variables:
      |  job_id:
      |    source: NXS
      |    path: /entry/entry_identifier_uuid
      |    value_type: string
      |  title:
      |    source: NXS
      |    path: /entry/title
      |    value_type: string
      |schema:
      |  pid:
      |    field_type: high_level
      |    machine_name: pid
      |    value: 20.500.12269/<job_id>
      |    type: string
      |  dataset_name:
      |    field_type: high_level
      |    machine_name: datasetName
      |    value: <title>
      |    type: string
      |  principal_investigator:
      |    field_type: high_level
      |    machine_name: principalInvestigator
      |    value: 'PI'
      |    type: string
      |  creation_location:
      |    field_type: high_level
      |    machine_name: creationLocation
      |    value: 'ESS:ymir'
      |    type: string
      |  owner:
      |    field_type: high_level
      |    machine_name: owner
      |    value: 'owner'
      |    type: string
      |  owner_email:
      |    field_type: high_level
      |    machine_name: ownerEmail
      |    value: 'o@e'
      |    type: string
      |  source_folder:
      |    field_type: high_level
      |    machine_name: sourceFolder
      |    value: '/root/reference/test-data'
      |    type: string
      |  contact_email:
      |    field_type: high_level
      |    machine_name: contactEmail
      |    value: 'c@e'
      |    type: string
      |  creation_time:
      |    field_type: high_level
      |    machine_name: creationTime
      |    value: '2024-01-01T00:00:00+00:00'
      |    type: date
      |""".stripMargin

  private def cfgFor(schemasDir: java.nio.file.Path) = IngestorConfig.load(
    s"""ingestion:
       |  schemas_directory: "$schemasDir"
       |""".stripMargin)

  test("message file round-trip: K3 dump body parses back to the wrdn record") {
    val m = Messages.WritingFinished("svc", "j9", false, ymir, """{"k":1}""", "done")
    val json = graft.sources.NexusExtractor.jsonStr _
    val body = s"""{"service_id":"svc","job_id":"j9","error_encountered":false,""" +
      s""""file_name":${json(ymir)},"metadata":${json(m.metadata)},"message":"done"}"""
    assert(MessageCodec.wrdnFromJsonBody(body).contains(m))
    assert(MessageCodec.wrdnFromJsonBody("not json").isEmpty)
    assert(MessageCodec.wrdnFromJsonBody("[1,2]").isEmpty)
  }

  test("loadMessage: message file wins, synthesis fills in otherwise") {
    val dir = Files.createTempDirectory("graft_offline")
    val msgFile = dir.resolve("run.message.json")
    Files.writeString(msgFile,
      """{"service_id": "svc", "job_id": "j1", "error_encountered": false,
        |"file_name": "/from/message.nxs", "metadata": "{}", "message": "ok"}""".stripMargin)
    val fromFile = OfflineIngestor.loadMessage("/cli/file.nxs", Some(msgFile.toString))
    assert(fromFile.file_name == "/from/message.nxs" && fromFile.job_id == "j1")
    val synthesized = OfflineIngestor.loadMessage("/cli/file.nxs", None)
    assert(synthesized.file_name == "/cli/file.nxs" && !synthesized.error_encountered)
    // unreadable message file degrades to synthesis, not failure
    assert(OfflineIngestor.loadMessage("/cli/file.nxs",
      Some(dir.resolve("missing.json").toString)).file_name == "/cli/file.nxs")
  }

  test("offline run: real fixture → dataset row through the production reader") {
    val dir = Files.createTempDirectory("graft_offline_schemas")
    Files.writeString(dir.resolve("ymir.imsc.yml"), ymirSchemaYaml)
    val out = OfflineIngestor.run(spark, cfgFor(dir), anyYmir).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("pid").startsWith("20.500.12269/"))
    assert(out.head.getAs[String]("datasetName").nonEmpty)
  }

  test("offline run: existing pid dedups to zero rows (skip path)") {
    val dir = Files.createTempDirectory("graft_offline_schemas2")
    Files.writeString(dir.resolve("ymir.imsc.yml"), ymirSchemaYaml)
    val cfg = cfgFor(dir)
    val pid = OfflineIngestor.run(spark, cfg, anyYmir).collect().head.getAs[String]("pid")
    val existing = graft.catalog.LocalCatalog(Map(s"datasets/$pid" -> "{}"))
    assert(OfflineIngestor.run(spark, cfg, anyYmir, catalog = Some(existing)).count() == 0)

    // check_if_dataset_exists_by_pid=false disables the F6 gate entirely
    val noGate = IngestorConfig.load(
      s"""ingestion:
         |  schemas_directory: "${cfg.ingestion.schemasDirectory}"
         |  check_if_dataset_exists_by_pid: false
         |""".stripMargin)
    assert(OfflineIngestor.run(spark, noGate, anyYmir, catalog = Some(existing)).count() == 1)
  }

  test("sample get-or-create: dedups in batch, probes catalog, POSTs the rest") {
    import spark.implicits._
    createdSamples.clear()
    sampleProbes.set(0)
    val pl72 = Seq(
      ("j1", "sampleA", "ymir"), ("j2", "sampleA", "ymir"), // in-batch dup
      ("j3", "sampleB", "ymir"), // already in catalog
      ("j4", "sampleA", "coda"))
      .toDF("job_id", "filename", "instrument_name")
    val created = SampleIngestor.processSampleBatch(
      pl72, OfflineIngestorSpec.RecordingCatalog(existing = Set(("sampleB", "ymir"))))
    assert(created.count() == 2) // persisted: count does NOT re-probe/re-post
    assert(sampleProbes.get == 3) // one probe per distinct candidate, after the dedup
    val posted = createdSamples.toArray(Array.empty[(String, String)]).toSet
    assert(posted == Set(("sampleA", "ymir"), ("sampleA", "coda")))
    assert(created.count() == 2) // stable on repeated actions
    assert(createdSamples.size == 2) // and no duplicate POSTs happened
    created.unpersist()
  }

  test("sample batches leave no cached frame behind, after success and after a failed POST") {
    import spark.implicits._
    val cache = spark.sharedState.cacheManager
    // CacheManager.numCachedEntries is package-private in Scala, public in bytecode
    def entries = cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val before = entries
    val pl72 = Seq(("j1", "sampleC", "ymir"), ("j2", "sampleD", "coda"))
      .toDF("job_id", "filename", "instrument_name")

    // success: the returned frame is the one cache entry, until the
    // caller is done with it (both callers unpersist after counting)
    val created = SampleIngestor.processSampleBatch(pl72, RecordingCatalog(existing = Set.empty))
    assert(entries == before + 1)
    assert(created.count() == 2)
    created.unpersist()
    assert(cache.lookupCachedData(
      created.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty && entries == before)

    // a POST that throws fails the batch and leaves no entry behind
    intercept[Exception] {
      SampleIngestor.processSampleBatch(pl72, RecordingCatalog(Set.empty, failPosts = true))
    }
    assert(entries == before)
  }
}
