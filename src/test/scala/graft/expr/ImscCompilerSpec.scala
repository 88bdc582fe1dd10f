package graft.expr

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.LocalCatalog
import graft.schema.ImscSchema

/** End-to-end variable-program goldens ported from the reference's
  * central fixture (tests/conftest.py:13-43 +
  * tests/test_scicat_dataset.py:82-121): wildcard detector reads, unit
  * attributes, unit consensus, sum with unit forwarding, failure
  * tolerance.
  */
class ImscCompilerSpec extends AnyFunSuite {
  import TestSpark.spark

  /** The conftest HDF5 fixture as the engine's JSON tree encoding. */
  val nexusJson: String =
    """{"entry": {
      |  "entry_identifier_uuid": {"__value": ["supposedly-long-uuid"]},
      |  "experiment_identifier": {"__value": ["123456"]},
      |  "instrument": {
      |    "name": {"__value": ["Test Instrument"]},
      |    "some_numbers": {"__value": [100, 200, 300]},
      |    "detectors": {
      |      "detector_1": {
      |        "name": {"__value": ["Detector Name 1"]},
      |        "number": {"__value": [10.5], "__attrs": {"units": "m"}}},
      |      "detector_2": {
      |        "name": {"__value": ["Detector Name 2"]},
      |        "number": {"__value": [12.5], "__attrs": {"units": "m"}}},
      |      "zdet_3": {"name": {"__value": ["Detector Name 3"]}}
      |    }
      |  },
      |  "sample": {
      |    "temperature": {"__value": [300.0], "__attrs": {"units": "K"}}}
      |}}""".stripMargin

  /** Equivalent of the reference's example test schema (semantics per
    * tests/resources/example_schema.imsc.yml). */
  val schemaYaml: String =
    """order: 1
      |id: supposedly-long-uuid
      |name: Metadata Schema For Testing
      |instrument: graft-test
      |selector: 'filename:starts_with:/'
      |variables:
      |  pid:
      |    source: NXS
      |    path: /entry/entry_identifier_uuid
      |    value_type: string
      |  proposal_id:
      |    source: NXS
      |    path: /entry/experiment_identifier
      |    value_type: string
      |  instrument_name:
      |    source: NXS
      |    path: /entry/instrument/name
      |    value_type: string
      |  detector_names_all:
      |    source: NXS
      |    path: /entry/instrument/detectors/*/name
      |    value_type: string[]
      |  detector_names_list:
      |    source: NXS
      |    path: /entry/instrument/detectors/detector_*/name
      |    value_type: string[]
      |  sample_temperature:
      |    source: NXS
      |    path: /entry/sample/temperature
      |    value_type: float
      |  some_instrument_numbers:
      |    source: NXS
      |    path: /entry/instrument/some_numbers
      |    value_type: integer[]
      |  detector_1_number:
      |    source: NXS
      |    path: /entry/instrument/detectors/detector_1/number
      |    value_type: float
      |  detector_2_number:
      |    source: NXS
      |    path: /entry/instrument/detectors/detector_2/number
      |    value_type: float
      |  detector_names:
      |    source: VALUE
      |    operator: join_with_space
      |    value: <detector_names_list>
      |    value_type: string
      |  access_groups:
      |    source: VALUE
      |    value:
      |    - dmsc-staff
      |    - ess_proposal_<proposal_id>
      |    value_type: string[]
      |  detector_12_numbers:
      |    source: VALUE
      |    value:
      |    - <detector_1_number>
      |    - <detector_2_number>
      |    value_type: float[]
      |  nonsense_numbers:
      |    source: VALUE
      |    value:
      |    - <detector_1_number>
      |    - <sample_temperature>
      |    value_type: float[]
      |  detector_12_numbers_sum:
      |    source: VALUE
      |    operator: sum
      |    value: <detector_12_numbers>
      |    value_type: float
      |schema: {}
      |""".stripMargin

  lazy val schema: ImscSchema = ImscSchema.fromYamlOrJson(schemaYaml)

  private def run(nexus: String = nexusJson, s: ImscSchema = schema): Row = {
    import spark.implicits._
    val df = Seq(("/data/run1/file.nxs", nexus)).toDF("data_file_path", "nexus_json")
    val compiled = ImscCompiler.compile(s,
      ImscCompiler.Context(ingestorFilesDirectory = "/tmp/ingestor"))
    assert(compiled.errors.isEmpty, compiled.errors)
    compiled(df).collect()(0)
  }

  private def vu(row: Row, name: String): (Any, String) = {
    val s = row.getAs[Row](name)
    (s.get(0), s.getString(1))
  }

  test("extract_variables_values goldens") {
    val row = run()
    assert(vu(row, "pid") == (("supposedly-long-uuid", "")))
    assert(vu(row, "proposal_id") == (("123456", "")))
    assert(vu(row, "instrument_name") == (("Test Instrument", "")))
    assert(vu(row, "detector_names_all")._1.asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("Detector Name 1", "Detector Name 2", "Detector Name 3"))
    assert(vu(row, "detector_names_list")._1.asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("Detector Name 1", "Detector Name 2"))
    assert(vu(row, "sample_temperature") == ((300.0, "K")))
    assert(vu(row, "some_instrument_numbers")._1.asInstanceOf[scala.collection.Seq[Long]].toSeq ==
      Seq(100L, 200L, 300L))
    assert(vu(row, "detector_1_number") == ((10.5, "m")))
    assert(vu(row, "detector_2_number") == ((12.5, "m")))
    // operator + template goldens
    assert(vu(row, "detector_names") == (("Detector Name 1, Detector Name 2", "")))
    assert(vu(row, "access_groups")._1.asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("dmsc-staff", "ess_proposal_123456"))
    // unit consensus: same units kept...
    val (d12, d12u) = vu(row, "detector_12_numbers")
    assert(d12.asInstanceOf[scala.collection.Seq[Double]].toSeq == Seq(10.5, 12.5) && d12u == "m")
    // ...mixed units dropped
    val (non, nonU) = vu(row, "nonsense_numbers")
    assert(non.asInstanceOf[scala.collection.Seq[Double]].toSeq == Seq(10.5, 300.0) && nonU == "")
    // sum forwards the unit
    assert(vu(row, "detector_12_numbers_sum") == ((23.0, "m")))
  }

  test("default variables are seeded (P13)") {
    val row = run()
    assert(vu(row, "data_file_path") == (("/data/run1/file.nxs", "")))
    assert(vu(row, "data_file_name") == (("file.nxs", "")))
    assert(vu(row, "ingestor_files_directory") == (("/tmp/ingestor", "")))
    assert(vu(row, "ingestor_metadata_schema_id") == (("supposedly-long-uuid", "")))
    assert(vu(row, "ingestor_run_id")._1.toString.nonEmpty)
    assert(vu(row, "now")._1.toString.endsWith("+00:00"))
  }

  test("failure tolerance: bad path nulls out, pipeline continues (F11)") {
    val badSchema = ImscSchema.fromYamlOrJson(
      schemaYaml.replace("path: /entry/entry_identifier_uuid",
        "path: /obviously/wrong/path"))
    val row = run(s = badSchema)
    assert(vu(row, "pid")._1 == null) // failed variable nulls out
    assert(vu(row, "proposal_id") == (("123456", ""))) // others unaffected
  }

  test("SC variable: catalog lookup with field projection (J1)") {
    // a plain title, and one whose quote, backslash and newline must
    // arrive as the catalog's text, not as its JSON escapes
    val escaped = "a \"quoted\" C:\\dir\nsecond line"
    for ((doc, title) <- Seq(
        """{"title": "Test Proposal", "pi": "Dr. X"}""" -> "Test Proposal",
        """{"title": "a \"quoted\" C:\\dir\nsecond line"}""" -> escaped)) {
      val catalog = LocalCatalog(Map("proposals/123456" -> doc))
      val scSchema = ImscSchema.fromYamlOrJson(
        """order: 1
          |id: sc-test
          |name: SC Test
          |instrument: graft-test
          |selector: '*'
          |variables:
          |  proposal_id:
          |    source: NXS
          |    path: /entry/experiment_identifier
          |    value_type: string
          |  proposal_title:
          |    source: SC
          |    url: proposals/<proposal_id>
          |    field: title
          |    value_type: string
          |schema: {}
          |""".stripMargin)
      import spark.implicits._
      val df = Seq(("/f.nxs", nexusJson)).toDF("data_file_path", "nexus_json")
      val compiled = ImscCompiler.compile(scSchema, ImscCompiler.Context(catalog = catalog))
      val row = compiled(df).collect()(0)
      assert(vu(row, "proposal_title") == ((title, "")))
    }
  }

  test("NXS extraction: every value_type keeps its typed value") {
    val tree =
      """{"entry": {
        |  "count": {"__value": [42]},
        |  "positions": {"__value": [1.5, 2.0, -3.25], "__attrs": {"units": "mm"}},
        |  "start_epoch": {"__value": [1700000000.5]},
        |  "start_iso": {"__value": ["2024-03-01T12:30:00Z"]},
        |  "params": {"__value": ["{'inner': {'a': 1, 'b': 'x'}, 'f': 1.5, 'n': None}"]},
        |  "tags": {"__value": ["[1, [2, 'two \"2\"', 'é\b'], 'three']"]},
        |  "contact": {"__value": ["pi@example.org"]},
        |  "home": {"__value": ["https://example.org/run"]},
        |  "nothing": {"__value": [null]},
        |  "bad_temp": {"__value": ["nan"], "__attrs": {"units": "K"}}
        |}}""".stripMargin
    val vars = Seq(
      "count" -> "integer", "positions" -> "float[]", "start_epoch" -> "date",
      "start_iso" -> "date", "params" -> "dict", "tags" -> "list",
      "contact" -> "email", "home" -> "link", "nothing" -> "none",
      "bad_temp" -> "float")
    val typed = ImscSchema.fromYamlOrJson(
      """order: 1
        |id: typed
        |name: Typed
        |instrument: graft-test
        |selector: '*'
        |variables:
        |""".stripMargin + vars.map { case (n, t) =>
        s"  $n:\n    source: NXS\n    path: /entry/$n\n    value_type: $t\n"
      }.mkString + "schema: {}\n")
    val row = run(tree, typed)
    def seq(name: String) = vu(row, name)._1.asInstanceOf[scala.collection.Seq[Any]].toSeq
    assert(vu(row, "count") == ((42L, "")))
    assert(seq("positions") == Seq(1.5, 2.0, -3.25) && vu(row, "positions")._2 == "mm")
    assert(vu(row, "start_epoch") == (("2023-11-14T22:13:20.500000+00:00", "")))
    assert(vu(row, "start_iso") == (("2024-03-01T12:30:00+00:00", "")))
    // a dict/list element that is not a string keeps its compact JSON text
    assert(vu(row, "params")._1.asInstanceOf[scala.collection.Map[String, String]].toMap ==
      Map("inner" -> """{"a":1,"b":"x"}""", "f" -> "1.5", "n" -> null))
    assert(seq("tags") == Seq("1", """[2,"two \"2\"","é\b"]""", "three"))
    assert(vu(row, "contact") == (("pi@example.org", "")))
    assert(vu(row, "home") == (("https://example.org/run", "")))
    assert(vu(row, "nothing") == ((null, "")))
    // NaN is no JSON number: the value nulls out, the unit stays
    assert(vu(row, "bad_temp") == ((null, "K")))
  }
}
