package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PyLiteral._
import graft.sources.NexusTree.{NexusDataset, NexusGroup}
import perfbench.Hdf5Writer
import perfbench.Hdf5Writer.{Data, Group}

/** Tests for the pure-JVM HDF5 reader.
  *
  * The three `small-ymir:`/`small-coda:` golden tests read the
  * reference's REAL NeXus fixtures (ref: test-data/README.md:6-46 —
  * instrument-pruned copies of actual YMIR/CODA acquisition files) and
  * cancel where the file they read is absent. Expected values are
  * cross-checked against the raw file bytes and the reference's own
  * schema for these fixtures (ref: resources/small-ymir.imsc.yml.example
  * NXS paths). small-ymir exercises: superblock v0, classic TREE/SNOD
  * root, v2 OHDR children, DENSE link storage (FRHP fractal heap + BTLF
  * name index — /entry has 20 links), vlen strings in GCOL, UTF-8 names.
  *
  * The other tests need any valid NeXus file: they read the real
  * fixture where it exists and otherwise the generated stand-in of
  * [[Hdf5Fixtures]] (superblock v0, v1 headers, SNOD groups, GCOL vlen
  * strings, v1 attributes; none of the v2/dense-link code).
  */
class Hdf5ReaderSpec extends AnyFunSuite {
  val ymir = "/root/reference/test-data/small-ymir.hdf"
  val coda = "/root/reference/test-data/small-coda.hdf"
  private lazy val anyYmir = Hdf5Fixtures.orGenerated(ymir)
  private lazy val anyCoda = Hdf5Fixtures.orGenerated(coda)

  private def str(root: NexusGroup, path: String): String =
    NexusTree.readString(root, path).getOrElse(fail(s"missing $path"))

  /** A one-dataset int64 file holding `value`, patched so its datatype
    * claims `elemSize`-byte elements and its first dim claims `firstDim`;
    * the stored data stays what the writer wrote. */
  private def claiming(value: PyValue, rank: Int, elemSize: Int, firstDim: Long): Array[Byte] = {
    val b = Hdf5Writer.write(Group(Vector("x" -> Data(value))))
    def at(pattern: Int*): Int = {
      val p = pattern.map(_.toByte)
      val i = b.indexOfSlice(p)
      assert(i >= 0 && b.lastIndexOfSlice(p) == i, s"pattern $pattern not unique")
      i
    }
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(at(0x10, 0x08, 0, 0, 8, 0, 0, 0) + 4, elemSize)
    bb.putLong(at(1, rank, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0) + 8, firstDim)
    b
  }

  /** The file written from `tree`, with `patch` applied at the offset
    * of the only occurrence of `marker` in it. */
  private def patched(tree: Group, marker: String)(patch: (ByteBuffer, Int) => Unit): Array[Byte] = {
    val b = Hdf5Writer.write(tree)
    val m = marker.getBytes("US-ASCII")
    val i = b.indexOfSlice(m)
    assert(i >= 0 && b.lastIndexOfSlice(m) == i, s"$marker not unique")
    patch(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN), i)
    b
  }

  /** A one-int64-dataset file whose dataset carries `units = "AAAA"`,
    * patched at the offset of the attribute's name: the v1 attribute's
    * datatype starts 8 bytes after it, its dataspace 16 and its value 24. */
  private def patchedUnits(patch: (ByteBuffer, Int) => Unit): Array[Byte] =
    patched(Group(Vector("x" -> Data(PyList(Vector(PyInt(7L))), Map("units" -> "AAAA")))),
      "units\u0000")(patch)

  /** Seeded random trees: ranks 0-3 with zero-length dims,
    * int64/float64/fixed/vlen strings, compact and contiguous layouts,
    * `units` on half the datasets, groups nested up to three deep. */
  private def randomTrees(n: Int): Vector[Group] = {
    val rnd = new scala.util.Random(20261019L)
    def text(): String =
      Seq("", "Søren", "a \"q\" C:\\d\n", rnd.alphanumeric.take(rnd.nextInt(20)).mkString)(rnd.nextInt(4))
    def scalar(kind: Int): PyValue = kind match {
      case 0 => PyInt(rnd.nextLong())
      case 1 => PyFloat(rnd.nextGaussian() * math.pow(10, rnd.nextInt(40) - 20))
      case _ => PyStr(text())
    }
    def array(dims: List[Int], kind: Int): PyValue = dims match {
      case Nil => scalar(kind)
      case n :: rest => PyList(Vector.fill(n)(array(rest, kind)))
    }
    def data(): Data = {
      val kind = rnd.nextInt(4) // int64, float64, fixed string, vlen string
      val dims = List.fill(rnd.nextInt(4))(rnd.nextInt(4))
      val attrs = if (rnd.nextBoolean()) Map("units" -> text()) else Map.empty[String, String]
      Data(array(dims, kind), attrs, vlen = kind == 3, compact = rnd.nextBoolean())
    }
    def group(depth: Int): Group = Group(Vector.tabulate(rnd.nextInt(5)) { i =>
      s"n$i" -> (if (depth < 2 && rnd.nextInt(3) == 0) group(depth + 1) else data())
    })
    Vector.fill(n)(group(0))
  }

  test("small-ymir: scalar datasets at the imsc schema's NXS paths") {
    assume(Hdf5Fixtures.present(ymir), s"$ymir not present")
    val root = Hdf5Reader.read(ymir)
    assert(str(root, "/entry/entry_identifier_uuid") ==
      "90d87f9a-950f-11ef-9101-fa163e943f63") // job_id
    assert(str(root, "/entry/experiment_identifier") == "876380") // proposal_id
    assert(str(root, "/entry/title") == "october 28th, lego test 1, cont")
    assert(str(root, "/entry/instrument/name") == "YMIR")
    assert(str(root, "/entry/start_time") == "2024-10-28T09:32:35.895Z")
    assert(str(root, "/entry/end_time") == "2024-10-28T09:34:50.524Z")
    assert(str(root, "/entry/entry_identifier") == "11465") // run_number
    assert(str(root, "/entry/sample/name") == "some sample")
  }

  test("small-ymir: wildcard user_*/name expansion (dense links, UTF-8)") {
    assume(Hdf5Fixtures.present(ymir), s"$ymir not present")
    val root = Hdf5Reader.read(ymir)
    val paths = NexusTree.extractPaths(root, List("entry", "user_.*", "name"))
    val names = paths.flatMap(p => NexusTree.readString(root, s"/$p"))
    assert(names.size == 12, s"got $names")
    // UTF-8 link names and values survive (raw bytes are \xc3\xb8 = ø)
    assert(names.contains("Søren Schmidt"))
    assert(names.take(3) == Vector(
      "Anders Pettersson", "Fredrik Bolmsten", "George ONeill"))
  }

  test("small-coda: second real fixture parses with matching goldens") {
    assume(Hdf5Fixtures.present(coda), s"$coda not present")
    val root = Hdf5Reader.read(coda)
    assert(str(root, "/entry/entry_identifier_uuid") ==
      "f22acb1c-950b-11ef-a3ef-fa163e9aae0a")
    assert(str(root, "/entry/experiment_identifier") == "443503")
    assert(str(root, "/entry/instrument/name") == "ODIN")
    assert(str(root, "/entry/title") == "odin")
    assert(str(root, "/entry/entry_identifier") == "31010")
    assert(str(root, "/entry/definition") == "NXtomo")
    assert(str(root, "/entry/sample/name") == "A Sample")
    assert(str(root, "/entry/start_time") == "2024-10-28T09:06:41.186Z")
    // multi-line vlen string dataset in the pruned publication group
    assert(str(root, "/entry/instrument/odin_publication/doi") ==
      "https://doi.org/10.1016/j.nima.2020.163402")
    val users = NexusTree.extractPaths(root, List("entry", "user_.*", "name"))
    assert(users.size == 6)
  }

  test("tree text round-trips whole nodes: fromJson(toJson(t)) == t") {
    // The IngestStream path is NexusTree.toJson(read) → NexusTree.fromJson:
    // whole nodes come back, values, attributes and child order alike
    val trees = Seq(anyYmir, anyCoda).map(Hdf5Reader.read) ++
      randomTrees(200).map(Hdf5Writer.toNexusRoot)
    for ((t, i) <- trees.zipWithIndex)
      assert(NexusTree.fromJson(NexusTree.toJson(t)) == t, s"tree $i: $t")
    // a non-finite float is written as null and reads back as PyNone
    def floats(xs: Double*) = NexusGroup(Vector("x" -> NexusDataset(
      PyList(xs.toVector.map(PyFloat(_))), Map("units" -> "K"))))
    val back = NexusTree.fromJson(NexusTree.toJson(
      floats(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1.5)))
    assert(back == NexusGroup(Vector("x" -> NexusDataset(
      PyList(Vector(PyNone, PyNone, PyNone, PyFloat(1.5))), Map("units" -> "K")))))
  }

  test("F11: corrupt, truncated, missing, or non-HDF5 files yield None") {
    val noRetry = Hdf5Reader.fileReaderWith(Seq.empty)
    val dir = java.nio.file.Files.createTempDirectory("graft_hdf5")
    val truncated = dir.resolve("trunc.hdf")
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(anyYmir))
    java.nio.file.Files.write(truncated, all.take(512).toArray)
    val garbage = dir.resolve("garbage.nxs")
    java.nio.file.Files.write(garbage, "not an hdf5 file at all".getBytes)

    assert(noRetry(truncated.toString).isEmpty)
    assert(noRetry(garbage.toString).isEmpty)
    assert(noRetry(dir.resolve("missing.hdf").toString).isEmpty)
    assert(noRetry("/etc/hostname").isEmpty)
    assert(noRetry(null).isEmpty)
    // and a valid NeXus file DOES read through the same entry point
    assert(Hdf5Reader.fileReader(anyYmir).nonEmpty)
  }

  test("failure classes are distinguished: io vs not_hdf5 vs parse vs too_large") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hdf5c")
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(anyYmir))
    val truncated = dir.resolve("trunc.hdf")
    java.nio.file.Files.write(truncated, all.take(600).toArray) // real magic, cut body
    val garbage = dir.resolve("garbage.nxs")
    java.nio.file.Files.write(garbage, "plain text".getBytes)
    // sparse file over the 2 GiB guard: instant to create, ~0 disk
    val big = dir.resolve("big.hdf")
    val raf = new java.io.RandomAccessFile(big.toFile, "rw")
    try raf.setLength(Int.MaxValue.toLong + 100) finally raf.close()

    assert(Hdf5Reader.readClassified(truncated.toString).swap.exists(_.startsWith("parse:")))
    assert(Hdf5Reader.readClassified(garbage.toString).swap.exists(_.startsWith("not_hdf5:")))
    assert(Hdf5Reader.readClassified(dir.resolve("nope.hdf").toString).swap.exists(_.startsWith("io:")))
    assert(Hdf5Reader.readClassified(big.toString).swap.exists(_.startsWith("too_large:")),
      "a merely-too-big file must NOT read as corrupt")
    assert(Hdf5Reader.readClassified(anyYmir).isRight)

    // dims that claim more than the stored bytes hold fail closed, fast:
    // a zero-size element type, a dim past the 8 stored bytes, a
    // zero-length inner dim under a huge outer one (empty lists only),
    // and a `units` attribute made a zero-size string of rank 1, whose
    // dim then reads the value bytes `AAAA` (1 094 795 585 elements)
    val one = PyList(Vector(PyInt(7L)))
    val hollow = PyList(Vector(PyList(Vector.empty)))
    val claims = Seq(
      "zero-size x 1000" -> claiming(one, 1, 0, 1000L),
      "zero-size x 400M" -> claiming(one, 1, 0, 400000000L),
      "8-byte x 1000" -> claiming(one, 1, 8, 1000L),
      "400M x 0" -> claiming(hollow, 2, 8, 400000000L),
      "zero-size units x 1G" -> patchedUnits { (bb, i) =>
        bb.putInt(i + 12, 0); bb.put(i + 17, 1.toByte) },
      // a vlen string whose global-heap object 1 (header at GCOL + 16,
      // size field 8 bytes in) claims 0x7FFFFFF0 bytes
      "GCOL object x 2G" -> patched(Group(Vector("s" -> Data(PyStr("hello"), vlen = true))),
        "GCOL") { (bb, i) => bb.putLong(i + 24, 0x7FFFFFF0L) },
      // the root group's B-tree node naming itself as its child 0 (the
      // first child pointer follows 24 bytes of header and one key)
      "TREE child = itself" -> patched(Group(Vector("x" -> Data(PyInt(7L)))), "TREE") {
        (bb, i) => bb.putLong(i + 32, i.toLong) })
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated() = threads.getThreadAllocatedBytes(Thread.currentThread().getId)
    for ((name, bytes) <- claims) {
      val f = dir.resolve(s"claim-${name.replaceAll("\\W", "_")}.hdf")
      java.nio.file.Files.write(f, bytes)
      val (t0, a0) = (System.nanoTime(), allocated())
      val got = Hdf5Reader.readClassified(f.toString)
      val (ms, mb) = ((System.nanoTime() - t0) / 1000000, (allocated() - a0) >> 20)
      assert(got.swap.exists(_.startsWith("parse:")), s"$name: $got")
      assert(ms < 1000, s"$name took $ms ms")
      assert(mb < 64, s"$name allocated $mb MB")
    }

    // a null dataspace (v2, rank 0, type 2: h5py `Empty`) holds no
    // value: the attribute is left out and the file still reads
    val empty = dir.resolve("empty-units.hdf")
    java.nio.file.Files.write(empty, patchedUnits { (bb, i) =>
      bb.put(i + 16, 2.toByte); bb.put(i + 17, 0.toByte); bb.put(i + 19, 2.toByte) })
    assert(Hdf5Reader.readClassified(empty.toString).isRight)
    assert(Hdf5Reader.read(empty.toString) ==
      NexusGroup(Vector("x" -> NexusDataset(PyList(Vector(PyInt(7L))), Map.empty))))
  }

  test("writer -> reader round trip: seeded random trees read back as written") {
    // every file the writer produces passes the reader's extent check
    // and decodes to its input
    val dir = java.nio.file.Files.createTempDirectory("graft_hdf5rt")
    for ((tree, i) <- randomTrees(200).zipWithIndex) {
      val f = dir.resolve(s"t$i.hdf")
      java.nio.file.Files.write(f, Hdf5Writer.write(tree))
      assert(Hdf5Reader.read(f.toString) == Hdf5Writer.toNexusRoot(tree), s"tree $i: $tree")
    }
  }

  test("any extension is attempted: magic bytes decide, not the file name") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hdf5e")
    val odd = dir.resolve("run0001.nexus-data") // extension the old gate skipped
    java.nio.file.Files.copy(java.nio.file.Paths.get(anyYmir), odd)
    assert(Hdf5Reader.fileReaderWith(Seq.empty)(odd.toString).nonEmpty)
  }

  test("transient IO failures retry with clamped delays; parse failures do not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hdf5r")
    val appearing = dir.resolve("late.hdf")
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the file "arrives" during the first retry sleep (filewriter just
    // finished moving it into place)
    val reader = Hdf5Reader.fileReaderWith(Seq(0.001, 60.0), sleeper = { ms =>
      slept += ms
      java.nio.file.Files.copy(java.nio.file.Paths.get(anyYmir), appearing)
    })
    assert(reader(appearing.toString).nonEmpty)
    assert(slept.toSeq == Seq(1000L)) // 0.001 clamped up to 1 s; no second retry

    // non-IO failures never retry
    val garbage = dir.resolve("g.hdf")
    java.nio.file.Files.write(garbage, "junk".getBytes)
    val sleeps2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    assert(Hdf5Reader.fileReaderWith(Seq(1.0), sleeper = sleeps2 += _)(garbage.toString).isEmpty)
    assert(sleeps2.isEmpty)
  }
}
