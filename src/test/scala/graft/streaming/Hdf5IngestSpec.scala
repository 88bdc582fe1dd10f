package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.schema.ImscSchema
import graft.sources.Hdf5Fixtures

/** End-to-end S4 parity: a wrdn message naming the reference's REAL
  * small-ymir NeXus fixture flows through the default (binary HDF5)
  * file reader and an imsc program modeled on the reference's own
  * schema for that file (ref: resources/small-ymir.imsc.yml.example)
  * into a dataset row. No test reader injected anywhere — this is the
  * production read path.
  *
  * The two tests that ingest the real fixture assert its values (pid,
  * team, `size == 17782`) and cancel where the file is absent; the
  * corrupt-file test writes its own input and always runs.
  */
class Hdf5IngestSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val ymir = "/root/reference/test-data/small-ymir.hdf"

  // The reference schema's NXS/VALUE variables, minus the SC catalog
  // lookups (exercised separately in IngestStreamSpec / J1 specs).
  val schemaYaml: String =
    """id: ymir-fixture
      |name: Ymir Metadata Schema
      |instrument: ymir
      |selector: filename:contains:small-ymir
      |order: 100
      |variables:
      |  job_id:
      |    source: NXS
      |    path: /entry/entry_identifier_uuid
      |    value_type: string
      |  pid:
      |    source: VALUE
      |    value: 20.500.12269/<job_id>
      |    value_type: string
      |  proposal_id:
      |    source: NXS
      |    path: /entry/experiment_identifier
      |    value_type: string
      |  dataset_original_name:
      |    source: NXS
      |    path: /entry/title
      |    value_type: string
      |  instrument_name:
      |    source: NXS
      |    path: /entry/instrument/name
      |    value_type: string
      |  start_time:
      |    source: NXS
      |    path: /entry/start_time
      |    value_type: date
      |  run_number:
      |    source: NXS
      |    path: /entry/entry_identifier
      |    value_type: integer
      |  acquisition_team_members_list:
      |    source: NXS
      |    path: /entry/user_*/name
      |    value_type: string[]
      |  acquisition_team_members:
      |    source: VALUE
      |    operator: join_with_space
      |    value: <acquisition_team_members_list>
      |    value_type: string
      |schema:
      |  pid:
      |    field_type: high_level
      |    machine_name: pid
      |    value: <pid>
      |    type: string
      |  proposal_id:
      |    field_type: high_level
      |    machine_name: proposalId
      |    value: <proposal_id>
      |    type: string
      |  dataset_name:
      |    field_type: high_level
      |    machine_name: datasetName
      |    value: <dataset_original_name>
      |    type: string
      |  principal_investigator:
      |    field_type: high_level
      |    machine_name: principalInvestigator
      |    value: ''
      |    type: string
      |  owner:
      |    field_type: high_level
      |    machine_name: owner
      |    value: ''
      |    type: string
      |  owner_email:
      |    field_type: high_level
      |    machine_name: ownerEmail
      |    value: ''
      |    type: string
      |  contact_email:
      |    field_type: high_level
      |    machine_name: contactEmail
      |    value: ''
      |    type: string
      |  creation_location:
      |    field_type: high_level
      |    machine_name: creationLocation
      |    value: ESS:CODA:<instrument_name>
      |    type: string
      |  start_time_hl:
      |    field_type: high_level
      |    machine_name: startTime
      |    value: <start_time>
      |    type: date
      |  run_number_hl:
      |    field_type: high_level
      |    machine_name: runNumber
      |    value: <run_number>
      |    type: string
      |  source_folder:
      |    field_type: high_level
      |    machine_name: sourceFolder
      |    value: <data_file_path>
      |    type: string
      |  creation_time:
      |    field_type: high_level
      |    machine_name: creationTime
      |    value: '2024-01-01T00:00:00Z'
      |    type: date
      |  acquisition_team_members:
      |    field_type: scientific_metadata
      |    machine_name: acquisition_team_members
      |    human_name: Acquisition Team Members
      |    value: <acquisition_team_members>
      |    type: string
      |  job_id_sm:
      |    field_type: scientific_metadata
      |    machine_name: job_id
      |    human_name: ESS Data Collection Job Id
      |    value: <job_id>
      |    type: string
      |""".stripMargin

  test("wrdn naming the real fixture → dataset row via the default HDF5 reader") {
    assume(Hdf5Fixtures.present(ymir), s"$ymir not present")
    val batch = Seq(("svc", "job-1", false, ymir, "{}", "done"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
    val cfg = IngestStream.Config(schemas = Seq(ImscSchema.fromYamlOrJson(schemaYaml)))
    val rows = IngestStream.processBatch(batch, cfg).collect()
    assert(rows.length == 1)
    val row = rows.head
    assert(row.getAs[String]("pid") ==
      "20.500.12269/90d87f9a-950f-11ef-9101-fa163e943f63")
    assert(row.getAs[String]("proposalId") == "876380")
    assert(row.getAs[String]("datasetName") == "october 28th, lego test 1, cont")
    assert(row.getAs[String]("creationLocation") == "ESS:CODA:YMIR")
    assert(row.getAs[String]("runNumber") == "11465")
    assert(row.getAs[String]("startTime").startsWith("2024-10-28T09:32:35"))
    assert(row.getAs[String]("sourceFolder") == ymir)
    // real file stats flow through the default lister
    assert(row.getAs[Long]("size") == 17782L)
    val sm = row.getAs[Map[String, org.apache.spark.sql.Row]]("scientificMetadata")
    val team = sm("acquisition_team_members").getAs[String]("value")
    assert(team.contains("Søren Schmidt") && team.contains("Yoganandan Pandiyan"))
    assert(sm("job_id").getAs[String]("value") ==
      "90d87f9a-950f-11ef-9101-fa163e943f63")
  }

  test("FlatBuffers wrdn naming the real fixture → dataset row via a STREAMING query") {
    assume(Hdf5Fixtures.present(ymir), s"$ymir not present")
    // the complete reference-production shape: a real FlatBuffers
    // payload on a streaming source, byte-slice type filter, codec
    // decode, binary HDF5 read, imsc pipeline, sink — nothing injected
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Array[Byte]]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val cfg = IngestStream.Config(schemas = Seq(ImscSchema.fromYamlOrJson(schemaYaml)))
    val query = IngestStream.ingestQuery(
      input.toDF(), cfg, (batch, _) => batch.collect().foreach(results.add))
    input.addData(
      MessageCodec.encodeWrdnFb(Messages.WritingFinished(
        "filewriter", "job-fb-1", error_encountered = false, ymir, "{}", "done")),
      MessageCodec.encodeWrdnFb(Messages.WritingFinished(
        "filewriter", "job-fb-2", error_encountered = true, ymir, "{}", "boom")),
      MessageCodec.encodePl72Fb(Messages.RunStartInfo("j", ymir, "ymir")))
    query.processAllAvailable()
    query.stop()
    val rows = results.toArray(Array.empty[org.apache.spark.sql.Row])
    assert(rows.length == 1) // error + pl72 dropped, good wrdn ingested
    assert(rows.head.getAs[String]("pid") ==
      "20.500.12269/90d87f9a-950f-11ef-9101-fa163e943f63")
    assert(rows.head.getAs[Long]("size") == 17782L)
  }

  test("wrdn naming a corrupt hdf file nulls out instead of failing the batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt")
    val bad = dir.resolve("small-ymir-corrupt.hdf")
    java.nio.file.Files.write(bad, Array.fill[Byte](64)(0x42))
    val batch = Seq(("svc", "job-2", false, bad.toString, "{}", "done"))
      .toDF("service_id", "job_id", "error_encountered", "file_name", "metadata", "message")
    val cfg = IngestStream.Config(schemas = Seq(ImscSchema.fromYamlOrJson(schemaYaml)))
    val rows = IngestStream.processBatch(batch, cfg).collect()
    // F11: the row survives; NXS-derived fields degrade to empty/null
    // (absent variables render as "" through the template compiler)
    assert(rows.length == 1)
    val pid = rows.head.getAs[String]("proposalId")
    assert(pid == null || pid.isEmpty, s"expected degraded proposalId, got '$pid'")
    assert(rows.head.getAs[String]("sourceFolder") == bad.toString)
  }
}
