package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.functions.PyLiteral._
import graft.sources.NexusTree.{NexusDataset, NexusGroup, NexusNode}

/** Minimal pure-JVM HDF5 reader — enough of the public HDF5 File Format
  * Specification to open the reference's real NeXus fixtures
  * (ref: test-data/README.md:6-46, read path: src/scicat_nexus_helper.py:13-59,
  * value decode: src/scicat_dataset.py:285-324).
  *
  * Supported (what h5py/libhdf5 "latest" writes for small files):
  *  - superblock v0 with a classic root group (v1 object header,
  *    TREE/SNOD symbol tables, local HEAP names);
  *  - v2 object headers (OHDR) with compact Link messages, and dense
  *    link storage (FRHP fractal heap + BTLF v2-btree name index,
  *    direct and indirect root blocks);
  *  - datatypes: fixed-point, IEEE float, fixed strings, vlen strings
  *    (GCOL global heap); dataspaces v1/v2 scalar and simple;
  *  - data layouts: compact and contiguous (v3/v4);
  *  - attribute messages v1/v2/v3 (for `units` etc.).
  *
  * Out of scope (not present in the fixtures): chunked/filtered data,
  * compound/enum/reference types, shared messages, dense attributes.
  * Unreadable datasets become absent nodes rather than failures — the
  * engine's F11 failure tolerance applies at extraction time. A dataset
  * or attribute whose dims claim more than its stored bytes hold fails
  * the whole file as `parse:` before any decode, so hostile counts cost
  * neither time nor heap; so does any byte count that reaches past the
  * end of the file, and a symbol-table B-tree that reaches one of its
  * nodes twice. An attribute with a null dataspace (h5py
  * `Empty`) has no value and is left out of the dataset's attributes.
  */
object Hdf5Reader {

  /** `corrupt`: the file contradicts itself (a dataset claims more than
    * it stores), so the whole file fails rather than only that node. */
  final case class Hdf5Error(msg: String, corrupt: Boolean = false) extends Exception(msg)

  def read(path: String): NexusGroup = {
    val p = Paths.get(path)
    // All internal addresses flow through Int offsets into one mapped
    // array; refuse anything close to 2 GiB instead of mis-parsing.
    // Facility NeXus files that big carry chunked event data this
    // reader doesn't decode anyway (out of scope, see header).
    val size = Files.size(p)
    if (size > Int.MaxValue - 8)
      throw Hdf5Error(s"file too large for in-memory reader: $size bytes")
    val bytes = Files.readAllBytes(p)
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    new Parser(buf).rootGroup()
  }

  /** HDF5 format signature (File Format Spec §II.A.1). The parser only
    * handles superblocks at offset 0 (what h5py writes), so the probe
    * checks offset 0 too. */
  private val Magic: Array[Byte] =
    Array(0x89, 'H', 'D', 'F', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** One classified read attempt. Left(reason) prefixes:
    *  - `io:` transient filesystem failure (missing/locked/unreadable) —
    *    the RETRYABLE class, the filewriter may still hold the file
    *    (ref: _open_h5file retries OSError/BlockingIOError,
    *    src/scicat_nexus_helper.py:14-59);
    *  - `too_large:` over the in-memory reader's 2 GiB guard — NOT the
    *    same as corrupt, and logged distinctly, so a file this reader
    *    cannot hold is never taken for a damaged one;
    *  - `not_hdf5:` magic-byte probe failed — any extension is
    *    attempted (the reference opens any path via h5py), garbage is
    *    rejected after an 8-byte read;
    *  - `parse:` real HDF5 signature but undecodable content.
    * Right holds the tree as [[NexusTree.toJson]] renders it. */
  def readClassified(path: String): Either[String, String] =
    try {
      if (path == null) return Left("io: null path")
      val p = Paths.get(path)
      if (!Files.isRegularFile(p)) return Left(s"io: no such file")
      val size = Files.size(p)
      if (size > Int.MaxValue - 8)
        return Left(s"too_large: $size bytes exceeds the in-memory reader limit")
      val head = new Array[Byte](8)
      val in = Files.newInputStream(p)
      val n = try in.read(head) finally in.close()
      if (n < 8 || !java.util.Arrays.equals(head, Magic))
        return Left("not_hdf5: missing HDF5 signature")
      Right(NexusTree.toJson(read(path)))
    } catch {
      case e: Hdf5Error => Left(s"parse: ${e.msg}")
      case e: java.io.IOException => Left(s"io: ${e.getMessage}")
      case scala.util.control.NonFatal(e) => Left(s"parse: ${e.getMessage}")
    }

  /** The IngestStream wiring (F11-safe): every failure class yields
    * None so the pipeline nulls the row's variables out instead of
    * failing the batch — but the classes are logged DISTINCTLY (a file
    * that is merely too big must not read as corrupt). S10: transient
    * IO failures retry first, each delay clamped to [1, 120] s (ref:
    * open_h5file, src/scicat_nexus_helper.py:62-95) — a file may still
    * be mid-write when its wrdn message arrives. */
  def fileReaderWith(
      retryDelaysSeconds: Seq[Double],
      sleeper: Long => Unit = Thread.sleep): String => Option[String] = { p =>
    var attempt = readClassified(p)
    val delays = retryDelaysSeconds.iterator
    while (attempt.fold(_.startsWith("io:"), (_: String) => false) && delays.hasNext) {
      val d = math.min(math.max(delays.next(), 1.0), 120.0)
      sleeper((d * 1000).toLong)
      attempt = readClassified(p)
    }
    attempt match {
      case Right(json) => Some(json)
      case Left(reason) =>
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"hdf5 read skipped ($reason): $p")
        None
    }
  }

  /** Production default: 3 attempts total with the reference's default
    * 3 s delay (ref: _DEFAULT_DELAY × data_file_open_max_tries=3,
    * src/scicat_nexus_helper.py:62-95). */
  val fileReader: String => Option[String] = fileReaderWith(Seq(3.0, 3.0))

  private val Undef = -1L // 0xFFFF.. addresses mean "undefined"

  private final class Parser(buf: ByteBuffer) {

    private def u8(p: Int): Int = buf.get(p) & 0xff
    private def u16(p: Int): Int = buf.getShort(p) & 0xffff
    private def u32(p: Int): Long = buf.getInt(p) & 0xffffffffL
    private def i64(p: Int): Long = buf.getLong(p)
    private def addr(p: Int): Long = { val v = i64(p); if (v == -1L) Undef else v }
    /** The `n` bytes at `p`. A count that reaches past the file is
      * corrupt, and fails before anything is allocated. */
    private def bytesAt(p: Int, n: Int): Array[Byte] = {
      if (n < 0 || p < 0 || p.toLong + n > buf.limit())
        throw Hdf5Error(s"$n bytes @ $p outside the file", corrupt = true)
      java.util.Arrays.copyOfRange(buf.array(), p, p + n)
    }
    private def uint(p: Int, n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v |= (buf.get(p + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    private def cstr(p: Int): String = {
      var e = p
      while (buf.get(e) != 0) e += 1
      new String(bytesAt(p, e - p), "UTF-8")
    }
    private def sig(p: Int): String = new String(bytesAt(p, 4), "US-ASCII")

    // --- superblock + classic root ------------------------------------

    def rootGroup(): NexusGroup = {
      val magic = bytesAt(0, 8)
      val expect = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
      if (!magic.sameElements(expect)) throw Hdf5Error("not an HDF5 file")
      val sbVer = u8(8)
      if (sbVer != 0) throw Hdf5Error(s"unsupported superblock version $sbVer")
      if (u8(13) != 8 || u8(14) != 8) throw Hdf5Error("only 8-byte offsets/lengths supported")
      // root symbol table entry at offset 24+32 = 56: name off(8), header addr(8)
      val rootHeader = addr(56 + 8)
      readGroupAt(rootHeader, Set.empty) match {
        case g: NexusGroup => g
        case d => NexusGroup(Vector("" -> d))
      }
    }

    // --- object headers (v1 + v2) -------------------------------------

    private final case class Message(typ: Int, body: Int, size: Int)

    private def readMessages(headerAddr: Long): Vector[Message] = {
      val p = headerAddr.toInt
      if (sig(p) == "OHDR") readMessagesV2(p)
      else readMessagesV1(p)
    }

    private def readMessagesV1(p: Int): Vector[Message] = {
      if (u8(p) != 1) throw Hdf5Error(s"unsupported object header version ${u8(p)} @ $p")
      val nmsgs = u16(p + 2)
      val out = Vector.newBuilder[Message]
      // first block starts after the 12-byte prefix padded to 16
      var blocks = List((p + 16, u32(p + 8).toInt))
      var remaining = nmsgs
      while (remaining > 0 && blocks.nonEmpty) {
        val (start, len) = blocks.head
        blocks = blocks.tail
        var q = start
        val end = start + len
        while (remaining > 0 && q + 8 <= end) {
          val typ = u16(q)
          val size = u16(q + 2)
          val body = q + 8
          if (typ == 0x0010) { // continuation: addr + len
            blocks = (addr(body).toInt, i64(body + 8).toInt) :: blocks
          } else out += Message(typ, body, size)
          remaining -= 1
          q = body + size
        }
      }
      out.result()
    }

    private def readMessagesV2(p: Int): Vector[Message] = {
      if (u8(p + 4) != 2) throw Hdf5Error(s"unsupported OHDR version ${u8(p + 4)}")
      val flags = u8(p + 5)
      var q = p + 6
      if ((flags & 0x20) != 0) q += 16 // access/mod/change/birth times
      if ((flags & 0x10) != 0) q += 4 // max compact / min dense
      val chunkSizeBytes = 1 << (flags & 0x3)
      val chunk0 = uint(q, chunkSizeBytes)
      q += chunkSizeBytes
      val tracked = (flags & 0x04) != 0
      val msgHeader = if (tracked) 6 else 4
      val out = Vector.newBuilder[Message]
      var blocks = List((q, chunk0.toInt))
      while (blocks.nonEmpty) {
        val (start, len) = blocks.head
        blocks = blocks.tail
        var r = start
        val end = start + len
        while (r + msgHeader <= end) {
          val typ = u8(r)
          val size = u16(r + 1)
          val body = r + msgHeader
          if (typ == 0x10) {
            // continuation block: OCHK signature + messages + checksum
            val cAddr = addr(body).toInt
            val cLen = i64(body + 8).toInt
            if (sig(cAddr) != "OCHK") throw Hdf5Error(s"bad OCHK @ $cAddr")
            blocks = (cAddr + 4, cLen - 8) :: blocks
          } else if (typ != 0) out += Message(typ, body, size)
          r = body + size
        }
      }
      out.result()
    }

    // --- group assembly -----------------------------------------------

    private def readNodeAt(headerAddr: Long, seen: Set[Long]): Option[NexusNode] = {
      if (headerAddr == Undef || seen.contains(headerAddr)) return None
      val msgs = readMessages(headerAddr)
      val isGroup = msgs.exists(m => m.typ == 0x0011 || m.typ == 0x0002 || m.typ == 0x0006)
      if (isGroup) Some(readGroupMsgs(msgs, seen + headerAddr))
      else readDataset(msgs)
    }

    private def readGroupAt(headerAddr: Long, seen: Set[Long]): NexusNode =
      readNodeAt(headerAddr, seen).getOrElse(NexusGroup(Vector.empty))

    private def readGroupMsgs(msgs: Vector[Message], seen: Set[Long]): NexusGroup = {
      val links = Vector.newBuilder[(String, Long)]
      msgs.foreach { m =>
        m.typ match {
          case 0x0011 => // classic symbol table: btree + local heap
            links ++= symbolTableLinks(addr(m.body), addr(m.body + 8))
          case 0x0006 => // compact link message
            parseLinkBody(m.body).foreach(links += _)
          case 0x0002 => // link info → dense storage in fractal heap
            val flags = u8(m.body + 1)
            var q = m.body + 2
            if ((flags & 1) != 0) q += 8
            val fheapAddr = addr(q)
            val nameBtree = addr(q + 8)
            if (fheapAddr != Undef && nameBtree != Undef)
              // F11 degrade: an unsupported dense-link layout (e.g. a
              // multi-level v2 btree) drops this group's links rather
              // than aborting the file
              links ++= scala.util.Try(denseLinks(fheapAddr, nameBtree))
                .getOrElse(Vector.empty)
          case _ => ()
        }
      }
      val children = links.result().sortBy(_._1).flatMap { case (name, hdr) =>
        // F11 degrade: a child whose header uses unsupported features
        // becomes an absent node; its siblings still resolve
        try readNodeAt(hdr, seen).map(name -> _)
        catch {
          case e: Hdf5Error if e.corrupt => throw e
          case scala.util.control.NonFatal(_) => None
        }
      }
      NexusGroup(children)
    }

    /** Link message body → (name, object header address); soft/external
      * links are skipped. */
    private def parseLinkBody(p: Int): Option[(String, Long)] = {
      if (u8(p) != 1) return None
      val flags = u8(p + 1)
      var q = p + 2
      var linkType = 0
      if ((flags & 0x08) != 0) { linkType = u8(q); q += 1 }
      if ((flags & 0x04) != 0) q += 8 // creation order
      if ((flags & 0x10) != 0) q += 1 // charset
      val lenSize = 1 << (flags & 0x3)
      val nameLen = uint(q, lenSize).toInt
      q += lenSize
      val name = new String(bytesAt(q, nameLen), "UTF-8")
      q += nameLen
      if (linkType == 0) Some(name -> addr(q)) else None
    }

    // --- classic groups: v1 btree + SNOD + local heap -----------------

    private def symbolTableLinks(btreeAddr: Long, heapAddr: Long): Vector[(String, Long)] = {
      val hp = heapAddr.toInt
      if (sig(hp) != "HEAP") throw Hdf5Error(s"bad HEAP @ $heapAddr")
      val heapData = i64(hp + 24).toInt
      // a B-tree reaches each of its nodes once; a second visit is a
      // cycle or a shared child, either of which would walk forever
      val visited = scala.collection.mutable.Set.empty[Long]
      def walk(node: Long): Vector[(String, Long)] = {
        if (!visited.add(node)) throw Hdf5Error(s"TREE node @ $node reached twice", corrupt = true)
        val p = node.toInt
        sig(p) match {
          case "TREE" =>
            val used = u16(p + 6)
            // keys/children alternate after 2 sibling pointers
            val base = p + 24
            (0 until used).toVector.flatMap(i => walk(addr(base + 8 + i * 16)))
          case "SNOD" =>
            val nsyms = u16(p + 6)
            (0 until nsyms).toVector.map { i =>
              val e = p + 8 + i * 40
              val nameOff = i64(e).toInt
              val hdr = addr(e + 8)
              cstr(heapData + nameOff) -> hdr
            }
          case other => throw Hdf5Error(s"unexpected node '$other' @ $node")
        }
      }
      walk(btreeAddr)
    }

    // --- dense links: fractal heap + v2 btree name index --------------

    private final case class FractalHeap(
        idLen: Int, flags: Int, tableWidth: Int, startBlockSize: Long,
        maxDirectSize: Long, maxHeapBits: Int, rootAddr: Long, curRows: Int) {
      val offsetSize: Int = (maxHeapBits + 7) / 8
      val lengthSize: Int = bytesToStore(maxDirectSize)
      def rowSize(r: Int): Long = if (r < 2) startBlockSize else startBlockSize << (r - 1)
    }

    private def bytesToStore(v: Long): Int = ((64 - java.lang.Long.numberOfLeadingZeros(v)) + 7) / 8

    private def readFractalHeapHeader(p0: Long): FractalHeap = {
      val p = p0.toInt
      if (sig(p) != "FRHP") throw Hdf5Error(s"bad FRHP @ $p0")
      val idLen = u16(p + 5)
      val flags = u8(p + 9)
      // fixed-width fields: 4 + (12 * 8) bytes from p+10 (max managed obj
      // size(4), then next huge id, huge btree, free space, fs mgr,
      // managed space, allocated, iterator, managed nobj, huge size,
      // huge nobj, tiny size, tiny nobj — each 8)
      var q = p + 10 + 4 + 12 * 8
      val tableWidth = u16(q); q += 2
      val startBlockSize = i64(q); q += 8
      val maxDirectSize = i64(q); q += 8
      val maxHeapBits = u16(q); q += 2
      q += 2 // starting # of rows
      val rootAddr = addr(q); q += 8
      val curRows = u16(q)
      FractalHeap(idLen, flags, tableWidth, startBlockSize, maxDirectSize,
        maxHeapBits, rootAddr, curRows)
    }

    /** File offset of managed-object data at fractal-heap offset `off`. */
    private def fractalResolve(fh: FractalHeap, off: Long): Int = {
      if (fh.curRows == 0) {
        // root IS a direct block at heap offset 0
        return fh.rootAddr.toInt + off.toInt
      }
      // find (row, col) covering `off` in the doubling table
      var row = 0
      var rowStart = 0L
      while (off >= rowStart + fh.tableWidth * fh.rowSize(row)) {
        rowStart += fh.tableWidth * fh.rowSize(row)
        row += 1
      }
      val col = ((off - rowStart) / fh.rowSize(row)).toInt
      val blockOffset = rowStart + col * fh.rowSize(row)
      val ib = fh.rootAddr.toInt
      if (sig(ib) != "FHIB") throw Hdf5Error(s"bad FHIB @ ${fh.rootAddr}")
      // children after: sig(4) version(1) heap hdr(8) block offset(offsetSize)
      val childBase = ib + 4 + 1 + 8 + fh.offsetSize
      val childAddr = addr(childBase + (row * fh.tableWidth + col) * 8)
      if (sig(childAddr.toInt) != "FHDB") throw Hdf5Error(s"bad FHDB @ $childAddr")
      childAddr.toInt + (off - blockOffset).toInt
    }

    /** The heap offset space includes block headers, so resolved object
      * positions are already absolute within the block. */
    private def fractalObject(fh: FractalHeap, heapId: Array[Byte]): Option[Int] = {
      val idType = (heapId(0) >> 4) & 0x3
      if (idType != 0) return None // huge/tiny not supported
      var off = 0L
      var i = 0
      while (i < fh.offsetSize) { off |= (heapId(1 + i) & 0xffL) << (8 * i); i += 1 }
      Some(fractalResolve(fh, off))
    }

    private def denseLinks(fheapAddr: Long, btreeAddr: Long): Vector[(String, Long)] = {
      val fh = readFractalHeapHeader(fheapAddr)
      val bp = btreeAddr.toInt
      if (sig(bp) != "BTHD") throw Hdf5Error(s"bad BTHD @ $btreeAddr")
      val recordSize = u16(bp + 10)
      val depth = u16(bp + 12)
      if (depth != 0) throw Hdf5Error("multi-level v2 btrees not supported")
      val rootAddr = addr(bp + 16)
      val rootNrec = u16(bp + 24)
      val lp = rootAddr.toInt
      if (sig(lp) != "BTLF") throw Hdf5Error(s"bad BTLF @ $rootAddr")
      (0 until rootNrec).toVector.flatMap { i =>
        // type-5 record: name hash(4) + managed heap id (recordSize-4)
        val rec = lp + 6 + i * recordSize
        val heapId = bytesAt(rec + 4, recordSize - 4)
        fractalObject(fh, heapId).flatMap(parseLinkBody)
      }
    }

    // --- datatypes / dataspaces / data --------------------------------

    private sealed trait Dt { def size: Int }
    private final case class DtFixed(size: Int, signed: Boolean, bigEndian: Boolean) extends Dt
    private final case class DtFloat(size: Int, bigEndian: Boolean) extends Dt
    private final case class DtString(size: Int) extends Dt
    private final case class DtVlenString(size: Int) extends Dt
    private final case class DtOther(size: Int) extends Dt

    private def parseDatatype(p: Int): Dt = {
      val cls = u8(p) & 0x0f
      val bits0 = u8(p + 1)
      val size = u32(p + 4).toInt
      cls match {
        case 0 => DtFixed(size, (bits0 & 0x08) != 0, (bits0 & 1) != 0)
        case 1 => DtFloat(size, (bits0 & 1) != 0)
        case 3 => DtString(size)
        case 9 => if ((bits0 & 0x0f) == 1) DtVlenString(16) else DtOther(16)
        case _ => DtOther(size)
      }
    }

    /** dims, empty for a scalar; None for a null dataspace (v2 type 2,
      * h5py `Empty`), which holds no value. */
    private def parseDataspace(p: Int): Option[Vector[Long]] = {
      val version = u8(p)
      if (version == 2 && u8(p + 3) == 2) return None
      val dimsAt = if (version == 1) p + 8 else p + 4
      Some((0 until u8(p + 1)).toVector.map(i => i64(dimsAt + i * 8)))
    }

    private def decodeElement(dt: Dt, p: Int): PyValue = dt match {
      case DtFixed(size, signed, be) =>
        val raw = {
          var v = 0L
          var i = 0
          while (i < size) {
            val b = buf.get(p + (if (be) size - 1 - i else i)) & 0xffL
            v |= b << (8 * i)
            i += 1
          }
          v
        }
        val v =
          if (signed && size < 8) (raw << (64 - 8 * size)) >> (64 - 8 * size)
          else raw
        PyInt(v)
      case DtFloat(size, be) =>
        val order = if (be) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
        val bb = ByteBuffer.wrap(bytesAt(p, size)).order(order)
        PyFloat(if (size == 4) bb.getFloat.toDouble else bb.getDouble)
      case DtString(size) =>
        var e = p
        val end = p + size
        while (e < end && buf.get(e) != 0) e += 1
        PyStr(new String(bytesAt(p, e - p), "UTF-8"))
      case DtVlenString(_) =>
        val len = u32(p).toInt
        val gaddr = addr(p + 4)
        val gidx = u32(p + 12).toInt
        PyStr(globalHeapString(gaddr, gidx, len))
      case DtOther(_) => PyNone
    }

    private var gcolCache = Map.empty[Long, Map[Int, Array[Byte]]]

    private def globalHeapString(collection: Long, index: Int, len: Int): String = {
      val objects = gcolCache.getOrElse(collection, {
        val p = collection.toInt
        if (sig(p) != "GCOL") throw Hdf5Error(s"bad GCOL @ $collection")
        val total = i64(p + 8)
        var q = p + 16
        val end = p + total.toInt
        var m = Map.empty[Int, Array[Byte]]
        var done = false
        while (!done && q + 16 <= end) {
          val idx = u16(q)
          val size = i64(q + 8).toInt
          if (idx == 0) done = true
          else {
            m += idx -> bytesAt(q + 16, size)
            q += 16 + ((size + 7) / 8) * 8
          }
        }
        gcolCache += collection -> m
        m
      })
      objects.get(index).map(b => new String(b.take(len), "UTF-8")).getOrElse("")
    }

    private def readDataset(msgs: Vector[Message]): Option[NexusNode] = {
      var dt: Option[Dt] = None
      var dims: Option[Vector[Long]] = None
      var dataAt: Option[(Int, Long)] = None // (file offset, byte length)
      val attrs = Map.newBuilder[String, String]
      msgs.foreach { m =>
        m.typ match {
          case 0x0003 => dt = Some(parseDatatype(m.body))
          case 0x0001 => dims = parseDataspace(m.body)
          case 0x0008 =>
            val ver = u8(m.body)
            if (ver == 3 || ver == 4) {
              u8(m.body + 1) match {
                case 0 => // compact: size(2), data
                  dataAt = Some((m.body + 4, u16(m.body + 2).toLong))
                case 1 => // contiguous: addr(8), size(8)
                  val a = addr(m.body + 2)
                  if (a != Undef) dataAt = Some((a.toInt, i64(m.body + 10)))
                case _ => () // chunked etc. unsupported
              }
            }
          case 0x000C => parseAttribute(m.body, m.size).foreach(attrs += _)
          case _ => ()
        }
      }
      for {
        t <- dt
        d <- dims
        (off, len) <- dataAt
      } yield {
        checkExtent(t, d, off, len)
        NexusDataset(decodeArray(t, off, d), attrs.result())
      }
    }

    /** Fails closed before a decode whose output the stored bytes do
      * not back: the element size must be positive, the extent
      * [off, off + len) must lie in the file, dims × element size must
      * fit in `len`, and the nested lists above the elements (which a
      * zero-length dim leaves empty) may not outnumber the file's
      * bytes. So a dataset or attribute value decodes to at most one
      * value per stored byte, whatever its header claims. */
    private def checkExtent(t: Dt, ds: Vector[Long], off: Int, len: Long): Unit = {
      def bad(why: String): Nothing = throw Hdf5Error(s"data @ $off: $why", corrupt = true)
      if (t.size <= 0) bad(s"element size ${t.size}")
      if (len < 0 || off < 0 || off.toLong + len > buf.limit()) bad(s"extent $len outside the file")
      if (ds.exists(_ < 0)) bad(s"negative dim in $ds")
      val (bytes, lists) =
        try (Math.multiplyExact(ds.foldLeft(1L)(Math.multiplyExact), t.size.toLong),
          ds.dropRight(1).scanLeft(1L)(Math.multiplyExact).foldLeft(0L)(Math.addExact))
        catch { case _: ArithmeticException => bad(s"dims $ds overflow") }
      if (bytes > len) bad(s"dims $ds need $bytes bytes, $len stored")
      if (lists > buf.limit()) bad(s"dims $ds nest more lists than the file has bytes")
    }

    private def decodeArray(t: Dt, off: Int, dims: Vector[Long]): PyValue = {
      def rec(o: Int, ds: Vector[Long]): (PyValue, Int) = ds match {
        case Vector(n) =>
          val items = (0 until n.toInt).toVector.map(i => decodeElement(t, o + i * t.size))
          (PyList(items), o + n.toInt * t.size)
        case head +: tail =>
          var cur = o
          val items = (0 until head.toInt).toVector.map { _ =>
            val (v, next) = rec(cur, tail)
            cur = next
            v
          }
          (PyList(items), cur)
        case _ => (decodeElement(t, o), o + t.size) // scalar
      }
      rec(off, dims)._1
    }

    /** Attribute message (v1 padded / v2 / v3) of `size` bytes →
      * (name, string value); None for a null dataspace. Non-scalar or
      * non-string attribute values render via pyStr. The value must fit
      * in the rest of the message, as a dataset's must in its extent. */
    private def parseAttribute(p: Int, size: Int): Option[(String, String)] = {
      val version = u8(p)
      if (version < 1 || version > 3) return None
      val flags = if (version == 1) 0 else u8(p + 1)
      if ((flags & 0x03) != 0) return None // shared datatype/dataspace
      val nameSize = u16(p + 2)
      val dtSize = u16(p + 4)
      val dsSize = u16(p + 6)
      var q = p + 8
      if (version == 3) q += 1 // name charset
      def pad8(n: Int): Int = if (version == 1) ((n + 7) / 8) * 8 else n
      val name = cstr(q)
      q += pad8(nameSize)
      val dt = parseDatatype(q)
      q += pad8(dtSize)
      val dims = parseDataspace(q)
      q += pad8(dsSize)
      dims.map { ds =>
        checkExtent(dt, ds, q, p + size - q)
        name -> pyStr(decodeArray(dt, q, ds))
      }
    }
  }
}
