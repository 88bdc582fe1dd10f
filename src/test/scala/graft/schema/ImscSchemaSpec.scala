package graft.schema

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.ConfigValue.CStr

/** Schema collection/selection goldens ported from
  * tests/test_scicat_metadata_schema.py:64-174 — notably the hardcoded
  * (order, python-capitalized name) collection order. */
class ImscSchemaSpec extends AnyFunSuite {

  private def mk(id: String, name: String, order: Long, selector: String = "*") =
    ImscSchema(id = id, name = name, instrument = "", selector = CStr(selector),
      order = order, variables = Vector.empty, items = Vector.empty)

  test("collection order: (order, capitalize(name)) — reference golden") {
    // mirrors the reference's shipped-schemas ordering test: names sorted
    // case-insensitively within the same order value
    val schemas = Seq(
      mk("small-coda", "Small-Coda Metadata Schema", 110),
      mk("ymir", "Ymir Metadata Schema", 100),
      mk("loki", "Loki Metadata Schema", 1),
      mk("base", "Generic metadata schema", 1),
      mk("dream", "dream Metadata Schema", 1),
      mk("coda", "Coda Metadata Schema", 1))
    val sorted = ImscSchema.sortSchemas(schemas).map(_.id)
    assert(sorted == Seq("coda", "dream", "base", "loki", "ymir", "small-coda"))
  }

  test("first-match selection: order matters, first suitable wins") {
    val schemas = Seq(
      mk("schema1", "Schema 1", 1, "filename:starts_with:wrong_name"),
      mk("schema2", "Schema 2", 2, "filename:starts_with:right_name"),
      mk("schema3", "Schema 3", 3, "filename:starts_with:wrong_name2"))
    val selected = ImscSchema.selectApplicable(schemas, "right_name.nxs", None)
    assert(selected.id == "schema2")
  }

  test("contains selector matches mid-name") {
    val schemas = Seq(
      mk("schema1", "Schema 1", 1, "filename:contains:wrong_part"),
      mk("schema2", "Schema 2", 2, "filename:contains:right_part"))
    assert(ImscSchema.selectApplicable(
      schemas, "some_right_part_in_name.nxs", None).id == "schema2")
  }

  test("no match falls back; no fallback raises") {
    val schemas = Seq(mk("schema1", "Schema 1", 1, "filename:contains:missing"))
    val fallback = mk("fallback", "Fallback", 999)
    assert(ImscSchema.selectApplicable(schemas, "some_file.nxs", Some(fallback)).id == "fallback")
    assertThrows[IllegalStateException](
      ImscSchema.selectApplicable(schemas, "some_file.nxs", None))
  }

  test("invalid selector target/function do not match (warn-only)") {
    val schemas = Seq(
      mk("bad_target", "A", 1, "data_file:starts_with:right"),
      mk("bad_fn", "B", 2, "filename:start_with:right"),
      mk("good", "C", 3, "filename:starts_with:right"))
    assert(ImscSchema.selectApplicable(schemas, "right_name.nxs", None).id == "good")
  }

  test("validation flags missing mandatory machine names") {
    val s = mk("x", "X", 1)
    val errs = s.validate
    assert(ImscSchema.MandatoryMachineNames.forall(m =>
      errs.exists(_.contains(m))))
  }
}

class SchemaDiscoverySpec extends AnyFunSuite {
  test("S9: discovers imsc files, skips dotfiles and others, orders collection") {
    val dir = java.nio.file.Files.createTempDirectory("imsc")
    def write(name: String, body: String) =
      java.nio.file.Files.writeString(dir.resolve(name), body)
    def schema(id: String, name: String, order: Int) =
      s"""{"id": "$id", "name": "$name", "order": $order,
         |"instrument": "", "selector": "*", "variables": {}, "schema": {}}""".stripMargin
    write("b.imsc.yml", s"id: b-schema\nname: Beta\norder: 2\nselector: '*'\n")
    write("a.imsc.json", schema("a-schema", "alpha", 2))
    write("c.imsc.yaml", schema("c-schema", "Zulu", 1))
    write(".hidden.imsc.yml", schema("hidden", "H", 0))
    write("notes.txt", "not a schema")
    val cfg = graft.config.IngestorConfig.load(
      s"""ingestion:
         |  schemas_directory: "$dir"
         |""".stripMargin)
    val (got, fallback) = graft.streaming.OnlineIngestor.loadSchemas(cfg)
    assert(got.map(_.id) == Seq("c-schema", "a-schema", "b-schema"))
    assert(got.head.name == "Zulu" && fallback.isEmpty)
  }
}
