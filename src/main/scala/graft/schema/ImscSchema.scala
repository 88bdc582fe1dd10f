package graft.schema

import graft.functions.DslCasts
import graft.functions.DslCasts.DslType
import ConfigValue._

/** The imsc ("Ingestor Metadata Schema Configuration") rule program —
  * the query language of this engine
  * (ref: MetadataSchema, src/scicat_metadata.py:220-276).
  */
final case class ImscSchema(
    id: String,
    name: String,
    instrument: String,
    selector: ConfigValue,
    order: Long,
    variables: Vector[(String, ImscSchema.VariableSpec)],
    items: Vector[(String, ImscSchema.ItemSpec)]) {

  /** Validation mirroring scicat_devtools (ref: scicat_devtools.py:50-147):
    * mandatory machine names present, field types valid. */
  def validate: Seq[String] = {
    val machineNames = items.map(_._2.machineName).toSet
    val missing = ImscSchema.MandatoryMachineNames.filterNot(machineNames)
    val badFieldTypes = items.collect {
      case (n, it) if !ImscSchema.ValidFieldTypes(it.fieldType) =>
        s"item $n: invalid field_type ${it.fieldType}"
    }
    missing.map(m => s"missing mandatory machine name: $m") ++ badFieldTypes
  }
}

object ImscSchema {

  val HighLevel = "high_level"
  val ScientificMetadata = "scientific_metadata"
  val ValidFieldTypes: Set[String] = Set(HighLevel, ScientificMetadata)

  /** ref: scicat_devtools.py mandatory machine-name check. */
  val MandatoryMachineNames: Seq[String] = Seq(
    "datasetName", "principalInvestigator", "creationLocation", "owner",
    "ownerEmail", "sourceFolder", "contactEmail", "creationTime")

  sealed trait VariableSpec {
    def valueType: DslType
    def unit: String
  }
  /** source: NXS (ref: VariableConfigNexusFile, scicat_metadata.py:112-116). */
  final case class NxsVar(path: String, valueType: DslType, unit: String = "") extends VariableSpec
  /** source: SC (ref: VariableConfigScicat, scicat_metadata.py:119-123). */
  final case class ScVar(url: String, field: String, valueType: DslType, unit: String = "") extends VariableSpec
  /** source: VALUE (ref: VariableConfigValue, scicat_metadata.py:126-135). */
  final case class ValueVar(
      value: ConfigValue,
      operator: Option[String],
      field: Option[String],
      pattern: Option[String],
      replacement: Option[String],
      valueType: DslType,
      unit: String = "") extends VariableSpec

  /** ref: MetadataItemConfig, scicat_metadata.py:138-146 — human_name
    * defaults to machine_name. */
  final case class ItemSpec(
      machineName: String,
      fieldType: String,
      value: ConfigValue,
      typ: DslType,
      humanName: String,
      unit: Option[String])

  def fromYamlOrJson(text: String): ImscSchema =
    fromConfig(ConfigValue.fromYamlOrJson(text))

  def fromConfig(c: ConfigValue): ImscSchema = c match {
    case m: CMap =>
      ImscSchema(
        id = m.getStr("id").getOrElse(sys.error("schema missing id")),
        name = m.getStr("name").getOrElse(""),
        instrument = m.getStr("instrument").getOrElse(""),
        selector = m.get("selector").getOrElse(CStr("*")),
        order = m.get("order") match {
          case Some(CLong(o)) => o
          case Some(CStr(s)) => s.toLong
          case _ => 0L
        },
        variables = m.get("variables") match {
          case Some(vm: CMap) => vm.items.map { case (n, vc) => n -> parseVariable(n, vc) }
          case _ => Vector.empty
        },
        items = m.get("schema") match {
          case Some(sm: CMap) => sm.items.map { case (n, ic) => n -> parseItem(n, ic) }
          case _ => Vector.empty
        })
    case _ => sys.error("schema must be a mapping")
  }

  private def parseVariable(name: String, c: ConfigValue): VariableSpec = c match {
    case m: CMap =>
      val vt = DslCasts.byName(m.getStr("value_type").getOrElse("string"))
      val unit = m.getStr("unit").getOrElse("")
      m.getStr("source") match {
        case Some("NXS") => NxsVar(m.getStr("path").getOrElse(sys.error(s"$name: NXS needs path")), vt, unit)
        case Some("SC") => ScVar(
          m.getStr("url").getOrElse(sys.error(s"$name: SC needs url")),
          m.getStr("field").getOrElse(""), vt, unit)
        case Some("VALUE") => ValueVar(
          m.get("value").getOrElse(sys.error(s"$name: VALUE needs value")),
          m.getStr("operator").filter(_.nonEmpty),
          m.getStr("field"), m.getStr("pattern"), m.getStr("replacement"),
          vt, unit)
        case other => sys.error(s"Invalid source name: $other for variable $name")
      }
    case _ => sys.error(s"variable $name must be a mapping")
  }

  private def parseItem(name: String, c: ConfigValue): ItemSpec = c match {
    case m: CMap =>
      val machine = m.getStr("machine_name").getOrElse(name)
      ItemSpec(
        machineName = machine,
        fieldType = m.getStr("field_type").getOrElse(ScientificMetadata),
        value = m.get("value").getOrElse(CStr("")),
        typ = DslCasts.byName(m.getStr("type").getOrElse("string")),
        humanName = m.getStr("human_name").getOrElse(machine),
        unit = m.getStr("unit"))
    case _ => sys.error(s"schema item $name must be a mapping")
  }

  /** Schema collection ordering: (order, python-capitalized name)
    * (ref: collect_schemas, scicat_metadata.py:328-346). */
  def sortSchemas(schemas: Seq[ImscSchema]): Seq[ImscSchema] =
    schemas.sortBy(s => (s.order, graft.expr.SelectorCompiler.pyCapitalize(s.name)))

  /** First-match selection with fallback
    * (ref: select_applicable_schema, scicat_metadata.py:420-447). */
  def selectApplicable(
      schemas: Seq[ImscSchema],
      filename: String,
      fallback: Option[ImscSchema]): ImscSchema =
    sortSchemas(schemas)
      .find(s => graft.expr.SelectorCompiler.eval(s.selector, filename))
      .orElse(fallback)
      .getOrElse(throw new IllegalStateException(
        "No applicable metadata schema is found and no fallback schema is given."))
}
