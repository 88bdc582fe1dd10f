package graft.sources

import scala.collection.immutable.ListMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

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

  /** Retrieve + convert-to-type of one NXS variable as its `(value, unit)`
    * row, the value of Spark type `t`. None = the variable failed (F11). */
  def extract(recipe: NxsVar, t: DataType, root: NexusGroup): Option[Row] =
    retrieve(recipe, root).flatMap { case (v, unit) =>
      DslCasts.convert(v, recipe.valueType).map(c => Row(sparkValue(c, t), unit))
    }.toOption

  /** A converted [[PyValue]] as the Spark value of `t`, the value Spark's
    * JSON reader gives for its [[toJson]] text: a NaN or infinite float is
    * null, and a string field holding a non-string holds its JSON text. */
  def sparkValue(v: PyValue, t: DataType): Any = (v, t) match {
    case (PyNone, _) => null
    case (PyFloat(d), _) if d.isNaN || d.isInfinite => null
    case (PyStr(s), StringType) => s
    case (other, StringType) => toJson(other)
    case (PyInt(i), LongType) => i
    case (PyFloat(d), DoubleType) => d
    case (PyList(items), ArrayType(et, _)) => items.map(sparkValue(_, et))
    case (PyDict(items), MapType(_, vt, _)) =>
      ListMap.from(items.map { case (k, x) => pyStr(k) -> sparkValue(x, vt) })
    case _ => null
  }

  /** JSON rendering of a [[PyValue]] (dict keys and `list` elements are
    * stringified — the engine's relational projection of dynamic types). */
  def toJson(v: PyValue): String = v match {
    case PyStr(s) => jsonStr(s)
    case PyInt(i) => i.toString
    case PyFloat(d) => if (d.isNaN || d.isInfinite) "null" else d.toString
    case PyBool(b) => b.toString
    case PyNone => "null"
    case PyList(items) => items.map(toJson).mkString("[", ",", "]")
    case PyDict(items) =>
      items.map { case (k, x) => jsonStr(pyStr(k)) + ":" + toJson(x) }
        .mkString("{", ",", "}")
  }

  /** JSON string literal: escapes quote, backslash and ALL control
    * chars (< 0x20), so any text round-trips through a strict parser.
    * The escapes are Jackson's, the writer behind Spark's JSON functions,
    * so a nested value renders as Spark re-renders it. */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\b' => "\\b"
      case '\f' => "\\f"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04X"
      case c => c.toString
    } + "\""
}
