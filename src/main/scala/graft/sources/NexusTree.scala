package graft.sources

import graft.functions.PyLiteral._
import graft.schema.ConfigValue
import graft.schema.ConfigValue._

/** In-memory model of a NeXus/HDF5 file: a tree of groups and datasets
  * where datasets are typed nd-arrays with attributes (notably `units`)
  * (ref: src/scicat_dataset.py:285-324, src/scicat_nexus_helper.py:13-59).
  *
  * The pure-JVM [[Hdf5Reader]] decodes HDF5 files into these nodes; it
  * is the ingest stream's default `fileReader`, which renders each tree
  * in the engine's JSON tree encoding. [[NexusTree.fromJson]] parses
  * that encoding back once per file for the typed extraction; fixtures
  * and the streaming tests write it by hand. The extraction semantics —
  * wildcard path expansion, scalar squeeze, unit attributes — are
  * tested against the reference's fixture goldens.
  */
object NexusTree {

  sealed trait NexusNode
  final case class NexusGroup(children: Vector[(String, NexusNode)]) extends NexusNode {
    lazy val byName: Map[String, NexusNode] = children.toMap
  }
  final case class NexusDataset(value: PyValue, attrs: Map[String, String]) extends NexusNode

  /** JSON encoding: a dataset is `{"__value": ..., "__attrs": {...}}`,
    * anything else is a group. */
  def fromJson(text: String): NexusGroup = fromConfig(ConfigValue.fromJson(text)) match {
    case g: NexusGroup => g
    case d => NexusGroup(Vector("" -> d))
  }

  def fromConfig(c: ConfigValue): NexusNode = c match {
    case m: CMap if m.get("__value").isDefined =>
      val attrs = m.get("__attrs") match {
        case Some(am: CMap) => am.items.collect { case (k, CStr(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
      NexusDataset(toPy(m.get("__value").get), attrs)
    case m: CMap => NexusGroup(m.items.map { case (k, v) => k -> fromConfig(v) })
    case other => NexusDataset(toPy(other), Map.empty)
  }

  def toPy(c: ConfigValue): PyValue = c match {
    case CStr(s) => PyStr(s)
    case CLong(v) => PyInt(v)
    case CDouble(v) => PyFloat(v)
    case CBool(b) => PyBool(b)
    case CNull => PyNone
    case CSeq(items) => PyList(items.map(toPy))
    case m: CMap => PyDict(m.items.map { case (k, v) => (PyStr(k), toPy(v)) })
  }

  /** Resolve an absolute dataset path like `/entry/sample/temperature`. */
  def resolve(root: NexusGroup, path: String): Option[NexusNode] =
    path.split("/").filter(_.nonEmpty).foldLeft(Option[NexusNode](root)) {
      case (Some(g: NexusGroup), seg) => g.byName.get(seg)
      case _ => None
    }

  /** Wildcard path expansion with the reference's matching rule: a
    * segment containing `*` matches child names by SUBSTRING REGEX
    * SEARCH (python `re.search`), bare `*` matches all
    * (ref: extract_paths_from_h5_file, scicat_dataset.py:430-458).
    * Returns matched paths relative to `root`, in tree order.
    */
  def extractPaths(root: NexusGroup, segments: List[String]): Vector[String] = segments match {
    case Nil => Vector.empty
    case master :: rest =>
      if (master.contains("*")) {
        val re = try Some(java.util.regex.Pattern.compile(master))
          catch { case _: Exception => None }
        val matched = root.children.collect {
          case (name, node) if master == "*" || re.exists(_.matcher(name).find()) => (name, node)
        }
        matched.flatMap {
          case (name, g: NexusGroup) if rest.nonEmpty =>
            extractPaths(g, rest).map(sub => s"$name/$sub")
          case (name, _) if rest.isEmpty => Vector(name)
          case _ => Vector.empty
        }
      } else root.byName.get(master) match {
        case Some(g: NexusGroup) if rest.nonEmpty =>
          extractPaths(g, rest).map(sub => s"$master/$sub")
        case Some(_) if rest.isEmpty => Vector(master)
        case Some(_) => Vector.empty
        // faithful: reference raises KeyError on a missing non-wildcard
        // segment; the engine surfaces it as no-match (F11 nulls out)
        case None => Vector.empty
      }
  }

  /** Scalar string read: `file[path][...].item().decode(...)` — takes the
    * single element of a string dataset (ref: scicat_dataset.py:285-288). */
  def readString(root: NexusGroup, path: String): Option[String] =
    resolve(root, path).collect {
      case NexusDataset(PyStr(s), _) => s
      case NexusDataset(PyList(Vector(PyStr(s))), _) => s
    }

  /** Unit attribute read (ref: scicat_dataset.py:291-292). */
  def readUnit(root: NexusGroup, path: String): Option[String] =
    resolve(root, path).collect { case NexusDataset(_, attrs) => attrs.get("units") }.flatten
}
