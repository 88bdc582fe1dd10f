package graft.assemble

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.{CastCompiler, TemplateCompiler, ValueOperators, VarCol}
import graft.expr.TemplateCompiler.Registry
import graft.functions.DslCasts._
import graft.plans.CommonPath
import graft.schema.ImscSchema
import graft.schema.ImscSchema._

/** Dataset/datablock assembly as one DataFrame program
  * (ref: create_scicat_dataset_instance, src/scicat_dataset.py:843-994,
  * create_origdatablock_instance :1068-1083).
  *
  * Input: the variable-struct DataFrame from ImscCompiler plus a
  * `files: array<struct<path,size,time,chk,uid,gid,perm>>` column
  * (the S7/S8 stat+checksum scan).
  *
  * Output columns: every high-level field of the fixed ScicatDataset
  * schema (F9 closes it), `scientificMetadata` as a map of
  * {value, unit, human_name, type} structs (P15), `size`/`numberOfFiles`
  * aggregates (A1/A2), plus an `origDataBlock` struct (A3 common-path
  * source folder + P18 relative paths).
  */
object DatasetAssembly {

  /** ref: DatasetOptions / FileHandlingOptions defaults
    * (src/scicat_configuration.py). */
  final case class Options(
      allowDatasetPid: Boolean = true,
      generateDatasetPid: Boolean = false,
      defaultInstrumentId: String = "",
      defaultProposalId: String = "",
      defaultOwnerGroup: String = "",
      defaultAccessGroups: Seq[String] = Seq.empty,
      sourceFolderConfig: String = "common_path", // or "data_file"
      filePathType: String = "relative", // or "absolute"
      fileHashAlgorithm: String = "blake2b")

  /** The fixed output schema of the dataset document (F9 drops anything
    * else; ref dataclass ScicatDataset, scicat_dataset.py:469-506).
    * `sampleId` is uniformly array<string> in the engine (the reference
    * allows scalar-or-list — a dynamic union Spark's schema closes). */
  val HighLevelFields: Seq[(String, DataType)] = Seq(
    "pid" -> StringType,
    "datasetName" -> StringType,
    "description" -> StringType,
    "principalInvestigator" -> StringType,
    "creationLocation" -> StringType,
    "owner" -> StringType,
    "ownerEmail" -> StringType,
    "sourceFolder" -> StringType,
    "contactEmail" -> StringType,
    "creationTime" -> StringType,
    "type" -> StringType,
    "sampleId" -> ArrayType(StringType),
    "instrumentId" -> StringType,
    "proposalId" -> StringType,
    "ownerGroup" -> StringType,
    "accessGroups" -> ArrayType(StringType),
    "startTime" -> StringType,
    "endTime" -> StringType,
    "runNumber" -> StringType,
    "keywords" -> ArrayType(StringType))

  val FilesSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("size", LongType),
    StructField("time", StringType),
    StructField("chk", StringType),
    StructField("uid", StringType),
    StructField("gid", StringType),
    StructField("perm", StringType)))

  final case class Assembled(
      apply: DataFrame => DataFrame,
      errors: Vector[(String, String)])

  def assemble(schema: ImscSchema, registry: Registry, opts: Options = Options()): Assembled = {
    val errors = Vector.newBuilder[(String, String)]

    // F5: partition items by field type; invalid types warned & ignored
    val (hlItems, smItems) = {
      val valid = schema.items.filter { case (n, it) =>
        val ok = ValidFieldTypes(it.fieldType)
        if (!ok) errors += (n -> s"invalid field_type ${it.fieldType}")
        ok
      }
      (valid.filter(_._2.fieldType == HighLevel),
        valid.filter(_._2.fieldType == ScientificMetadata))
    }

    // P16: render + cast each high-level item
    var hl = Map.newBuilder[String, Column]
    for ((n, it) <- hlItems) {
      TemplateCompiler.render(it.value, registry) match {
        case Left(err) => errors += (n -> err)
        case Right(rendered) =>
          hl += it.machineName -> CastCompiler.cast(rendered, it.typ).value
      }
    }
    var hlMap = hl.result()

    // F8: mandatory machine-name check — hard error like the reference
    val missing = MandatoryMachineNames.filterNot(hlMap.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Missing mandatory fields for scicat dataset: ${missing.mkString(", ")}.")

    // F9: drop unexpected fields (reported, not fatal)
    val expected = HighLevelFields.map(_._1).toSet
    for (k <- hlMap.keys if !expected(k)) {
      errors += (k -> "unexpected metadata field, ignored")
      hlMap -= k
    }

    // pid policy (ref: scicat_dataset.py:769-790)
    if (!opts.allowDatasetPid && hlMap.contains("pid"))
      hlMap += "pid" -> lit(null).cast("string")
    else if (opts.generateDatasetPid)
      hlMap += "pid" -> regexp_replace(expr("uuid()"), "-", "")

    // P15: scientific-metadata map of {value, unit, human_name, type}
    val smEntries = smItems.flatMap { case (n, it) =>
      TemplateCompiler.render(it.value, registry) match {
        case Left(err) => errors += (n -> err); None
        case Right(rendered) =>
          val cast = CastCompiler.cast(rendered, it.typ)
          Some(Seq(
            lit(it.machineName),
            struct(
              TemplateCompiler.pyStrCol(cast).as("value"),
              it.unit.map(lit(_)).getOrElse(cast.unit).as("unit"),
              lit(it.humanName).as("human_name"),
              lit(it.typ.name).as("type"))))
      }
    }
    val smCol = if (smEntries.isEmpty) map() else map(smEntries.flatten: _*)

    def strOrNull(v: Any): Column = if (v == null) lit(null).cast("string") else lit(v.toString)

    val fn: DataFrame => DataFrame = { df =>
      val files = col("files")
      // A1/A2 (ref: scicat_dataset.py:907-910)
      val sizeCol = aggregate(
        transform(files, f => coalesce(f.getField("size"), lit(0L))),
        lit(0L), (acc, x) => acc + x)
      val nFiles = size(files).cast("long")

      // A3: source folder
      val commonPathUdf = udf((paths: Seq[String]) => CommonPath.commonPath(paths).orNull)
      val sourceFolderDerived = opts.sourceFolderConfig match {
        case "data_file" => ValueOperators.dirname(col("data_file_path"))
        case _ => commonPathUdf(transform(files, _.getField("path")))
      }

      var out = df
        .withColumn("size", sizeCol)
        .withColumn("numberOfFiles", nFiles)
        .withColumn("isPublished", lit(false))
        .withColumn("scientificMetadata", smCol)

      // high-level fields in fixed order; schema-provided or null.
      // sampleId: the reference allows scalar-or-list — scalars wrap
      // into the engine's uniform array<string>.
      val sampleIdIsScalar = hlItems.collectFirst {
        case (_, it) if it.machineName == "sampleId" => !it.typ.name.contains("[]") && it.typ != DList
      }.getOrElse(false)
      for ((name, dtype) <- HighLevelFields) {
        val raw = hlMap.getOrElse(name, lit(null).cast(dtype))
        val base =
          if (name == "sampleId" && sampleIdIsScalar)
            when(raw.isNotNull, array(raw.cast("string"))).otherwise(lit(null).cast(dtype))
          else raw
        // P17: defaults backfill
        val withDefault = name match {
          case "instrumentId" => coalesce(base, strOrNull(opts.defaultInstrumentId))
          case "proposalId" => coalesce(base, strOrNull(opts.defaultProposalId))
          case "ownerGroup" => coalesce(base, strOrNull(opts.defaultOwnerGroup))
          case "accessGroups" =>
            coalesce(base, array(opts.defaultAccessGroups.map(lit(_)): _*).cast(dtype))
          case "type" => coalesce(base, lit("raw"))
          case _ => base
        }
        out = out.withColumn(name, withDefault)
      }

      // J4: sampleId merge with queried sample pids, set-union dedup
      if (out.columns.contains("sample_pids"))
        out = out.withColumn("sampleId",
          when(size(coalesce(col("sample_pids"), array())) > 0,
            array_distinct(concat(coalesce(col("sampleId"), array()), col("sample_pids"))))
            .otherwise(col("sampleId")))

      out = out.withColumn("sourceFolder",
        coalesce(col("sourceFolder"), sourceFolderDerived))
        .withColumn("techniques",
          array().cast("array<struct<pid:string,name:string>>"))

      // OrigDataBlock (A3 + P18; ref: scicat_dataset.py:1032-1083):
      // paths rewritten relative to sourceFolder when configured
      val relativized = transform(files, f => struct(
        (if (opts.filePathType == "relative")
          when(f.getField("path").startsWith(concat(col("sourceFolder"), lit("/"))),
            f.getField("path").substr(length(col("sourceFolder")) + 2, lit(1000000)))
            .otherwise(f.getField("path"))
        else f.getField("path")).as("path"),
        f.getField("size").as("size"),
        f.getField("time").as("time"),
        f.getField("chk").as("chk"),
        f.getField("uid").as("uid"),
        f.getField("gid").as("gid"),
        f.getField("perm").as("perm")))

      out = out.withColumn("origDataBlock", struct(
        col("pid").as("datasetId"),
        col("size").as("size"),
        lit(opts.fileHashAlgorithm).as("chkAlg"),
        relativized.as("dataFileList"),
        col("ownerGroup").as("ownerGroup"),
        col("accessGroups").as("accessGroups")))

      // F9: close the output schema (DTO field order)
      out.select(OutputColumns.map(col): _*)
    }

    Assembled(fn, errors.result())
  }

  /** ScicatDataset DTO field order + the datablock struct. */
  val OutputColumns: Seq[String] = Seq(
    "pid", "size", "numberOfFiles", "isPublished", "datasetName",
    "description", "principalInvestigator", "creationLocation",
    "scientificMetadata", "owner", "ownerEmail", "sourceFolder",
    "contactEmail", "creationTime", "type", "sampleId", "techniques",
    "instrumentId", "proposalId", "ownerGroup", "accessGroups",
    "startTime", "endTime", "runNumber", "keywords", "origDataBlock")

  val ScientificMetadataType: MapType = MapType(StringType, StructType(Seq(
    StructField("value", StringType), StructField("unit", StringType),
    StructField("human_name", StringType), StructField("type", StringType))))

  /** Static output schema matching [[OutputColumns]] — used to build a
    * well-typed EMPTY result when every schema's pipeline fails, so
    * downstream joins on `pid` etc. stay analyzable. */
  val OutputSchema: StructType = {
    val hl = HighLevelFields.toMap
    StructType(OutputColumns.map {
      case "size" => StructField("size", LongType)
      case "numberOfFiles" => StructField("numberOfFiles", LongType)
      case "isPublished" => StructField("isPublished", BooleanType)
      case "scientificMetadata" => StructField("scientificMetadata", ScientificMetadataType)
      case "techniques" => StructField("techniques",
        ArrayType(StructType(Seq(StructField("pid", StringType), StructField("name", StringType)))))
      case "origDataBlock" => StructField("origDataBlock", StructType(Seq(
        StructField("datasetId", StringType), StructField("size", LongType),
        StructField("chkAlg", StringType),
        StructField("dataFileList", ArrayType(FilesSchema)),
        StructField("ownerGroup", StringType),
        StructField("accessGroups", ArrayType(StringType)))))
      case n => StructField(n, hl.getOrElse(n, StringType))
    })
  }

  /** Full pipeline: variable compilation + assembly in ONE plan — the
    * engine's analogue of the offline ingestor's per-file program
    * (ref: scicat_offline_ingestor.py:194-348). Input columns:
    * `data_file_path`, `nexus_json`, `files`. The J4 merge reads
    * `sample_pids`, which the compile adds when `ctx.samplePaths` is set.
    */
  def pipeline(
      schema: ImscSchema,
      ctx: graft.expr.ImscCompiler.Context,
      opts: Options = Options()): DataFrame => DataFrame = { df =>
    val compiled = graft.expr.ImscCompiler.compile(schema, ctx)
    val assembled = assemble(schema, compiled.registry, opts)
    val withHidden = compiled.hidden.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    assembled.apply(withHidden)
  }

  /** F10: null-stripped JSON rendering of `fields`, the dataset
    * document both sinks write (ref: scicat_dataset_to_dict,
    * scicat_dataset.py:997-1010). */
  def toJsonColumn(fields: Seq[String]): Column =
    to_json(struct(fields.map(col): _*), Map("ignoreNullFields" -> "true"))
}
