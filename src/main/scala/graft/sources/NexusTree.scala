package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactoryBuilder, StreamReadFeature}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.functions.PyLiteral._

/** In-memory model of a NeXus/HDF5 file: a tree of groups and datasets
  * where datasets are typed nd-arrays with attributes (notably `units`)
  * (ref: src/scicat_dataset.py:285-324, src/scicat_nexus_helper.py:13-59).
  *
  * The pure-JVM [[Hdf5Reader]] decodes HDF5 files into these nodes.
  * This object owns the tree text, the engine's JSON tree encoding that
  * the ingest stream's `fileReader` hands on per file: [[toJson]] writes
  * it (the default reader renders each decoded file with it) and
  * [[fromJson]] reads it back once per file for the typed extraction;
  * fixtures and the streaming tests write it by hand. The extraction
  * semantics — wildcard path expansion, scalar squeeze, unit
  * attributes — are tested against the reference's fixture goldens.
  *
  * It also owns path semantics: [[resolve]], [[extractPaths]] and the
  * [[Needed]] trie of the paths an extraction reads, which the reader
  * prunes its walk by. Both lookups and the trie match a wildcard
  * segment with [[wildcard]], so what the reader keeps is what the
  * extraction can reach.
  */
object NexusTree {

  sealed trait NexusNode
  final case class NexusGroup(children: Vector[(String, NexusNode)]) extends NexusNode {
    lazy val byName: Map[String, NexusNode] = children.toMap
  }
  final case class NexusDataset(value: PyValue, attrs: Map[String, String]) extends NexusNode

  /** JSON encoding: a dataset is `{"__value": ..., "__attrs": {...}}`,
    * anything else is a group. A NaN or infinite float is written as
    * `null`, so it reads back as `PyNone`. */
  def toJson(node: NexusNode): String = node match {
    case NexusGroup(children) =>
      children.map { case (k, v) => NexusExtractor.jsonStr(k) + ":" + toJson(v) }
        .mkString("{", ",", "}")
    case NexusDataset(v, attrs) =>
      val attrJson = attrs.toSeq.sortBy(_._1).map { case (k, s) =>
        NexusExtractor.jsonStr(k) + ":" + NexusExtractor.jsonStr(s)
      }.mkString("{", ",", "}")
      "{\"__value\":" + NexusExtractor.toJson(v) + ",\"__attrs\":" + attrJson + "}"
  }

  /** Floats parse with Jackson's fast parser: the same correctly
    * rounded doubles as `Double.parseDouble`, without its big-integer
    * fallback on long literals (a file's float logs are most of its
    * tree text). */
  private val mapper = new ObjectMapper(
    new JsonFactoryBuilder().enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER).build())

  /** Parses [[toJson]]'s encoding; a top-level dataset becomes the only
    * child, named "", of a root group. Non-string attributes are left
    * out. */
  def fromJson(text: String): NexusGroup = node(mapper.readTree(text)) match {
    case g: NexusGroup => g
    case d => NexusGroup(Vector("" -> d))
  }

  private def node(n: JsonNode): NexusNode =
    if (n.isObject && n.has("__value")) {
      val attrs = Option(n.get("__attrs")).filter(_.isObject).iterator
        .flatMap(_.properties().asScala).collect {
          case e if e.getValue.isTextual => e.getKey -> e.getValue.asText()
        }.toMap
      NexusDataset(py(n.get("__value")), attrs)
    } else if (n.isObject)
      NexusGroup(n.properties().asScala.iterator.map(e => e.getKey -> node(e.getValue)).toVector)
    else NexusDataset(py(n), Map.empty)

  private def py(n: JsonNode): PyValue =
    if (n.isTextual) PyStr(n.asText())
    else if (n.isIntegralNumber) PyInt(n.asLong())
    else if (n.isNumber) PyFloat(n.asDouble())
    else if (n.isBoolean) PyBool(n.asBoolean())
    else if (n.isArray) PyList(n.elements().asScala.map(py).toVector)
    else if (n.isObject)
      PyDict(n.properties().asScala.iterator.map(e => (PyStr(e.getKey), py(e.getValue))).toVector)
    else PyNone

  /** A set of paths as a trie over their segments: the part of a file
    * that [[resolve]], [[extractPaths]] and the reads on them can reach,
    * so a reader may skip every other link. A child is needed when a
    * segment equals its name (the literal lookup) or holds `*` and
    * [[wildcard]] matches it; it is needed `whole` when some path ends
    * at it, and otherwise only for the segments below. */
  final class Needed private (
      private val whole: Boolean,
      private val branches: Vector[(String, String => Boolean, Needed)]) extends Serializable {

    /** What is needed below the child `name`; None when nothing is. */
    def child(name: String): Option[Needed] =
      if (whole) Some(this)
      else branches.collect { case (seg, matches, sub) if seg == name || matches(name) => sub } match {
        case Vector() => None
        case Vector(one) => Some(one)
        case many => Some(new Needed(many.exists(_.whole), many.flatMap(_.branches)))
      }
  }

  object Needed {
    /** Every path: the whole file. */
    val All: Needed = new Needed(true, Vector.empty)

    /** The paths the extraction reads for `paths`, in both segment forms
      * it splits them into: [[resolve]]'s non-empty segments, and for a
      * path holding `*` the `string[]` wildcard expansion's
      * `split("/").drop(1)`. A path with no segments reads nothing below
      * the root. */
    def apply(paths: Iterable[String]): Needed = build(paths.toVector.flatMap { p =>
      val segs = p.split("/")
      Vector(segs.filter(_.nonEmpty).toList) ++
        Option.when(p.contains("*"))(segs.drop(1).toList)
    }.filter(_.nonEmpty))

    private def build(paths: Vector[List[String]]): Needed =
      if (paths.exists(_.isEmpty)) All
      else new Needed(false, paths.groupBy(_.head).toVector.sortBy(_._1).map { case (seg, ps) =>
        (seg, if (seg.contains("*")) wildcard(seg) else (_: String) => false, build(ps.map(_.tail)))
      })
  }

  /** Resolve an absolute dataset path like `/entry/sample/temperature`. */
  def resolve(root: NexusGroup, path: String): Option[NexusNode] =
    path.split("/").filter(_.nonEmpty).foldLeft(Option[NexusNode](root)) {
      case (Some(g: NexusGroup), seg) => g.byName.get(seg)
      case _ => None
    }

  /** The child names a wildcard segment (one containing `*`) matches:
    * by SUBSTRING REGEX SEARCH (python `re.search`), bare `*` all of
    * them, and a segment that is no valid regex none but through bare
    * `*` (ref: extract_paths_from_h5_file, scicat_dataset.py:430-458).
    * [[extractPaths]] and [[Needed]] both match with it. */
  private def wildcard(segment: String): String => Boolean =
    if (segment == "*") _ => true
    else try {
      val re = java.util.regex.Pattern.compile(segment)
      name => re.matcher(name).find()
    } catch { case _: Exception => _ => false }

  /** Wildcard path expansion with the reference's matching rule: a
    * segment containing `*` matches child names by [[wildcard]].
    * Returns matched paths relative to `root`, in tree order.
    */
  def extractPaths(root: NexusGroup, segments: List[String]): Vector[String] = segments match {
    case Nil => Vector.empty
    case master :: rest =>
      if (master.contains("*")) {
        val matches = wildcard(master)
        val matched = root.children.filter { case (name, _) => matches(name) }
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
