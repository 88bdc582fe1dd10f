package graft.expr

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.LocalCatalog
import graft.functions.DslCasts._
import graft.schema.{ConfigValue, ImscSchema}
import graft.schema.ImscSchema._
import graft.sources.{NexusExtractor, NexusTree}
import TemplateCompiler.Registry
import ValueOperators.OpSpec

/** The imsc → DataFrame-program compiler — the heart of the engine
  * (ref: extract_variables_values, src/scicat_dataset.py:375-427).
  *
  * Input: a DataFrame with one row per file carrying
  * `data_file_path: string` and `nexus_json: string`: the NeXus tree
  * as text, the JSON tree encoding [[NexusTree.toJson]] writes and
  * [[NexusTree.fromJson]] reads (the ingest stream's default
  * `fileReader` renders each HDF5 file with it).
  *
  * Output: the same rows plus one `struct(value, unit)` column per
  * variable. Variables compile IN DEFINITION ORDER so later templates
  * reference earlier columns (topological evaluation — the reference's
  * ordered dict). All NXS variables, and with sample attachment on the
  * P19 sample name and proposal id, come from one parse of each row's
  * tree into the hidden `__nxs` struct, each value already of its
  * variable's [[CastCompiler.sparkType]]. Its UDF is non-deterministic,
  * so Catalyst never inlines the extraction into the projections or the
  * pushed-down filters that read `__nxs` fields.
  *
  * Per-variable failures (bad path, unresolved template, cast error)
  * null out silently (F11, ref: scicat_dataset.py:421-427) — compile-time
  * failures are also reported in [[Compiled.errors]].
  */
object ImscCompiler {

  /** `samplePaths`: with sample attachment on, the NeXus paths of the
    * sample name and proposal id (P19) whose J2 query fills `sample_pids`. */
  final case class Context(
      catalog: graft.catalog.Catalog = LocalCatalog.empty,
      ingestorFilesDirectory: String = "",
      runIdColumn: Option[Column] = None,
      samplePaths: Option[(String, String)] = None)

  final case class Compiled(
      registry: Registry,
      hidden: Vector[(String, Column)],
      errors: Vector[(String, String)]) {

    /** Materialize: hidden extraction columns + one struct per variable,
      * in a single projection (all VarCols reference only input/hidden
      * columns, so no sequential withColumn chain is needed — a variable
      * named like an input column must not shadow it mid-chain). */
    def apply(df: DataFrame): DataFrame = {
      val withHidden = hidden.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      val varNames = registry.entries.map(_._1).toSet
      val keep = df.columns.filterNot(varNames.contains).filterNot(_.startsWith("__")).map(col)
      withHidden.select(keep ++ registry.entries.map { case (n, v) => v.toStruct.as(n) }: _*)
    }
  }

  def compile(schema: ImscSchema, ctx: Context): Compiled = {
    var reg = defaultRegistry(schema, ctx)
    val errors = Vector.newBuilder[(String, String)]
    val hidden = Vector.newBuilder[(String, Column)]

    // --- NXS variables and the P19 sample fields: one extraction -------
    // `__nxs.vars` holds one `(value, unit)` struct per NXS variable and
    // `__nxs.sample` the sample name and proposal id (null with sample
    // attachment off), all read from one parse of the file's tree.
    val nxsVars = schema.variables.collect { case (n, v: NxsVar) =>
      (n, v, CastCompiler.sparkType(v.valueType)) }
    val paths = ctx.samplePaths
    if (nxsVars.nonEmpty || paths.nonEmpty) {
      val nxsType = new StructType()
        .add("vars", StructType(nxsVars.map { case (n, _, t) =>
          StructField(n, new StructType().add("value", t).add("unit", StringType)) }))
        .add("sample", new StructType().add("name", StringType).add("proposal", StringType))
      val extract: UDF1[String, Row] = { nexusJson =>
        val root = Option(nexusJson).flatMap(j => Try(NexusTree.fromJson(j)).toOption)
        def read(path: String) = root.flatMap(NexusTree.readString(_, path)).orNull
        Row(Row.fromSeq(nxsVars.map { case (_, v, t) =>
            root.flatMap(NexusExtractor.extract(v, t, _)).orNull }),
          paths.map { case (name, proposal) => Row(read(name), read(proposal)) }.orNull)
      }
      hidden += ("__nxs" -> udf(extract, nxsType).asNondeterministic()(col("nexus_json")))
    }
    // J2: the catalog's sample query on the extracted pair
    paths.foreach { _ =>
      val catalog = ctx.catalog
      val query = udf((name: String, proposal: String) =>
        if (name == null || proposal == null) Seq.empty[String]
        else catalog.querySamples(name, proposal)).asNondeterministic()
      hidden += ("sample_pids" -> query(col("__nxs.sample.name"), col("__nxs.sample.proposal")))
    }

    // --- sequential variable compilation (definition order) ------------
    for ((name, spec) <- schema.variables) spec match {
      case v: NxsVar =>
        val extracted = col("__nxs").getField("vars").getField(name)
        reg = reg + (name -> VarCol(
          extracted.getField("value"),
          coalesce(extracted.getField("unit"), lit("")),
          Some(v.valueType)))

      case v: ScVar =>
        TemplateCompiler.renderString(v.url, reg) match {
          case Left(err) => errors += (name -> err)
          case Right(urlCol) =>
            val catalog = ctx.catalog
            // a JSON string field arrives as its text, any other value as
            // its compact JSON; the cast layer types it from there
            val lookupUdf = udf((url: String, field: String) =>
              if (url == null) None
              else catalog.lookupJson(url, field).map { json =>
                if (!json.startsWith("\"")) json
                else Try(ConfigValue.fromJson(json)).toOption
                  .collect { case ConfigValue.CStr(text) => text }.getOrElse(json)
              })
            val asString = lookupUdf(urlCol.value.cast("string"), lit(v.field))
            val converted = CastCompiler.cast(
              VarCol(asString, lit(""), Some(DString)), v.valueType)
            reg = reg + (name -> converted)
        }

      case v: ValueVar =>
        TemplateCompiler.render(v.value, reg) match {
          case Left(err) => errors += (name -> err)
          case Right(rendered) =>
            val afterOp = ValueOperators(v.operator, rendered,
              OpSpec(v.field, v.pattern, v.replacement))
            reg = reg + (name -> CastCompiler.cast(afterOp, v.valueType))
        }
    }

    Compiled(reg, hidden.result(), errors.result())
  }

  /** Default variable seeding (P13, ref: scicat_dataset.py:327-345). */
  private def defaultRegistry(schema: ImscSchema, ctx: Context): Registry = {
    val path = col("data_file_path")
    val nowIso = concat(
      date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("+00:00"))
    Registry(Vector(
      "ingestor_run_id" -> VarCol(
        ctx.runIdColumn.getOrElse(expr("uuid()")), lit(""), Some(DString)),
      "data_file_path" -> VarCol(path, lit(""), Some(DString)),
      "data_file_name" -> VarCol(ValueOperators.basename(path), lit(""), Some(DString)),
      "now" -> VarCol(nowIso, lit(""), Some(DString)),
      "ingestor_files_directory" -> VarCol(
        lit(ctx.ingestorFilesDirectory), lit(""), Some(DString)),
      "ingestor_metadata_schema_id" -> VarCol(lit(schema.id), lit(""), Some(DString)),
    ))
  }
}
