package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.functions.PyLiteral._
import perfbench.Hdf5Writer
import perfbench.Hdf5Writer.{Data, Group}

/** NeXus files for the specs that need A valid HDF5 file but assert
  * nothing that only the facility's real fixtures hold (ref:
  * test-data/small-{ymir,coda}.hdf, real ESS files no program can
  * regenerate).
  *
  * [[orGenerated]] returns the real fixture path wherever that file
  * exists, else a generated stand-in of the same file name. The two
  * stand-ins are written once per JVM with the benchmark's
  * [[perfbench.Hdf5Writer]] and read back through [[Hdf5Reader]] against
  * `Hdf5Writer.toNexusRoot` before any spec sees them. They carry:
  *  - a body of several KiB (a GCOL heap alone is 4 KiB) with the root
  *    group written last, so a file cut at 512 or 600 bytes keeps its
  *    signature and fails to parse;
  *  - `/entry/entry_identifier_uuid` and `/entry/title`, the offline
  *    ingestor schema's NXS paths, under a file name containing
  *    `small-ymir` for its `filename:contains:` selector;
  *  - 1-D and 2-D float/int arrays with a `units` attribute;
  *  - fixed-length and vlen strings, one of them UTF-8 (`Søren`);
  *  - different trees, so the two files are distinct.
  *
  * They use superblock v0, version-1 object headers and SNOD symbol
  * tables only: the reader's v2 OHDR, dense-link (FRHP/BTLF) and v2/v3
  * attribute code is reached by the real files alone.
  */
object Hdf5Fixtures {

  def present(path: String): Boolean = Files.isRegularFile(Paths.get(path))

  /** `real` if that file exists, else the generated file of its name. */
  def orGenerated(real: String): String =
    if (present(real)) real
    else generated.getOrElse(Paths.get(real).getFileName.toString,
      throw new IllegalArgumentException(s"no generated stand-in for $real")).toString

  private def fixed(s: String): Data = Data(PyList(Vector(PyStr(s))), compact = true)
  private def vlen(s: String): Data = Data(PyStr(s), vlen = true)
  private def floats(unit: String, xs: Double*): Data =
    Data(PyList(xs.toVector.map(PyFloat(_))), Map("units" -> unit))
  private def matrix(unit: String, rows: Vector[Double]*): Data =
    Data(PyList(rows.toVector.map(r => PyList(r.map(PyFloat(_))))), Map("units" -> unit))
  private def longs(unit: String, xs: Long*): Data =
    Data(PyList(xs.toVector.map(PyInt(_))), Map("units" -> unit))
  private def user(name: Data, email: String): Group =
    Group(Vector("name" -> name, "email" -> fixed(email)))

  private val ymirTree = Group(Vector("entry" -> Group(Vector(
    "entry_identifier_uuid" -> fixed("00000000-0000-4000-8000-000000000101"),
    "entry_identifier" -> fixed("101"),
    "experiment_identifier" -> fixed("100001"),
    "title" -> vlen("generated ymir stand-in"),
    "start_time" -> fixed("2024-01-01T00:00:00.000Z"),
    "end_time" -> fixed("2024-01-01T00:05:00.000Z"),
    "instrument" -> Group(Vector(
      "name" -> fixed("YMIR"),
      "some_numbers" -> longs("counts", 100, 200, 300))),
    "sample" -> Group(Vector(
      "name" -> vlen("generated sample"),
      "temperature" -> floats("K", 300.0))),
    "monitor" -> Group(Vector(
      "data" -> matrix("counts", Vector(1.0, 2.0, 3.0), Vector(4.0, 5.0, 6.0)))),
    "user_0" -> user(vlen("Søren Schmidt"), "soren.schmidt@example.org"),
    "user_1" -> user(fixed("Ada Lund"), "ada.lund@example.org")))))

  private val codaTree = Group(Vector("entry" -> Group(Vector(
    "entry_identifier_uuid" -> fixed("00000000-0000-4000-8000-000000000202"),
    "entry_identifier" -> fixed("202"),
    "experiment_identifier" -> fixed("200002"),
    "title" -> vlen("generated coda stand-in"),
    "definition" -> fixed("NXtomo"),
    "instrument" -> Group(Vector(
      "name" -> fixed("ODIN"),
      "odin_publication" -> Group(Vector(
        "doi" -> vlen("https://doi.org/10.0000/generated"))),
      "detector_1" -> Group(Vector(
        "distance" -> floats("m", 10.5, 12.5))))),
    "sample" -> Group(Vector("name" -> fixed("A Sample"))),
    "user_0" -> user(fixed("Maria García"), "maria.garcia@example.org")))))

  private lazy val generated: Map[String, Path] = {
    val dir = Files.createTempDirectory("graft_hdf5_fixtures")
    dir.toFile.deleteOnExit()
    Map("small-ymir.hdf" -> ymirTree, "small-coda.hdf" -> codaTree).map { case (name, tree) =>
      val p = dir.resolve(name)
      Files.write(p, Hdf5Writer.write(tree))
      p.toFile.deleteOnExit()
      if (Hdf5Reader.read(p.toString) != Hdf5Writer.toNexusRoot(tree))
        throw new IllegalStateException(s"HDF5 read-back differs from the generated tree: $p")
      name -> p
    }
  }
}
