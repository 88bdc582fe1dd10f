package graft.sources

import graft.functions.DslCasts
import graft.functions.DslCasts._
import graft.functions.PyLiteral._
import graft.schema.ImscSchema.NxsVar
import NexusTree._

/** `_retrieve_values_from_file` semantics over a [[NexusTree]]
  * (ref: src/scicat_dataset.py:295-324):
  *  - `string[]` + wildcard path → expand paths, read each as string,
  *    NO unit retrieval;
  *  - `string` → scalar string read (single-element dataset);
  *  - otherwise → raw value;
  *  - unit: `units` attribute, else the hardcoded config unit;
  *  - scalar squeeze: a 1-element array for a non-`[]` type collapses.
  */
object NexusExtractor {

  def retrieve(recipe: NxsVar, root: NexusGroup): Either[String, (PyValue, String)] = {
    val vt = recipe.valueType
    val raw: Either[String, (PyValue, Option[String])] =
      if (vt == DStringArr && recipe.path.contains("*")) {
        val segs = recipe.path.split("/").drop(1).toList
        val paths = extractPaths(root, segs)
        val values = paths.map(p => readString(root, p).toRight(s"not a string dataset: $p"))
        values.collectFirst { case Left(e) => Left(e) }.getOrElse(
          Right((PyList(values.collect { case Right(s) => PyStr(s) }), None)))
      } else {
        val valueE: Either[String, PyValue] =
          if (vt == DString)
            readString(root, recipe.path).map(s => PyStr(s): PyValue)
              .toRight(s"no string at ${recipe.path}")
          else resolve(root, recipe.path) match {
            case Some(NexusDataset(v, _)) => Right(v)
            case Some(_) => Left(s"path is a group: ${recipe.path}")
            case None => Left(s"no dataset at ${recipe.path}")
          }
        valueE.map(v => (v, readUnit(root, recipe.path)))
      }

    raw.map { case (value, unitAttr) =>
      val unit = unitAttr.getOrElse(recipe.unit)
      val squeezed =
        if (!vt.name.contains("[]")) value match {
          case PyList(Vector(single)) => single
          case other => other
        } else value
      (squeezed, unit)
    }
  }

  /** Retrieve + convert-to-type for every NXS variable of a schema,
    * rendered as one JSON object `{name: {"value": ..., "unit": ...}}` —
    * the UDF payload the compiler feeds to `from_json`. Failed variables
    * are omitted (null fields downstream — the F11 error channel).
    */
  def extractAllJson(vars: Seq[(String, NxsVar)], nexusJson: String): String = {
    val root =
      try NexusTree.fromJson(nexusJson)
      catch { case _: Exception => return "{}" }
    val fields = vars.flatMap { case (name, recipe) =>
      retrieve(recipe, root).flatMap { case (v, unit) =>
        DslCasts.convert(v, recipe.valueType).map(conv => (name, conv, unit))
      }.toOption
    }
    fields.map { case (name, v, unit) =>
      jsonStr(name) + ":{\"value\":" + toJson(v) + ",\"unit\":" + jsonStr(unit) + "}"
    }.mkString("{", ",", "}")
  }

  /** JSON rendering of a [[PyValue]] (dict keys and `list` elements are
    * stringified — the engine's relational projection of dynamic types). */
  def toJson(v: PyValue): String = v match {
    case PyStr(s) => jsonStr(s)
    case PyInt(i) => i.toString
    case PyFloat(d) =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case PyBool(b) => b.toString
    case PyNone => "null"
    case PyList(items) => items.map(toJson).mkString("[", ",", "]")
    case PyDict(items) =>
      items.map { case (k, x) => jsonStr(pyStr(k)) + ":" + toJson(x) }
        .mkString("{", ",", "}")
  }

  /** JSON string literal: escapes quote, backslash and ALL control
    * chars (< 0x20), so any text round-trips through a strict parser. */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
