package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.PyLiteral._
import graft.sources.NexusTree.{NexusDataset, NexusGroup, NexusNode}

/** Writes the NeXus/HDF5 subset that `graft.sources.Hdf5Reader` decodes:
  * superblock v0 with 8-byte offsets, version-1 object headers,
  * symbol-table groups (v1 B-tree `TREE` + `SNOD` leaves + local `HEAP`
  * names), compact and contiguous data layouts (layout message v3),
  * little-endian int64/float64, fixed-length and variable-length UTF-8
  * strings (vlen bodies in one `GCOL` global heap per 4 KiB), and v1
  * attribute messages carrying `units`.
  *
  * The input is a [[Node]] tree; [[toNexus]] gives the tree the reader is
  * expected to return for it, so every written file can be read back and
  * compared.
  */
object Hdf5Writer {

  sealed trait Node
  final case class Group(children: Vector[(String, Node)]) extends Node
  /** `value` is a scalar or a (nested) PyList of one element kind:
    * PyStr, PyInt (int64) or PyFloat (float64). `vlen` stores strings as
    * variable-length, `compact` keeps the raw data inside the header. */
  final case class Data(
      value: PyValue,
      attrs: Map[String, String] = Map.empty,
      vlen: Boolean = false,
      compact: Boolean = false) extends Node

  /** The tree `Hdf5Reader.read` returns for a file written from `n`. */
  def toNexus(n: Node): NexusNode = n match {
    case Group(cs) => NexusGroup(cs.sortBy(_._1).map { case (k, v) => k -> toNexus(v) })
    case Data(v, attrs, _, _) => NexusDataset(v, attrs)
  }

  def toNexusRoot(g: Group): NexusGroup = toNexus(g).asInstanceOf[NexusGroup]

  def write(root: Group): Array[Byte] = new Writer().file(root)

  private val Undef = -1L
  private val LeafK = 16
  private val InternalK = 16

  private final class Writer {
    private var arr = new Array[Byte](1 << 16)
    private var buf = ByteBuffer.wrap(arr).order(ByteOrder.LITTLE_ENDIAN)
    private var end = 0

    /** Reserve `n` zeroed bytes at the next 8-aligned address. */
    private def reserve(n: Int): Int = {
      val at = (end + 7) & ~7
      val need = at + n
      if (need > arr.length) {
        var cap = arr.length
        while (cap < need) cap *= 2
        arr = java.util.Arrays.copyOf(arr, cap)
        buf = ByteBuffer.wrap(arr).order(ByteOrder.LITTLE_ENDIAN)
      }
      end = need
      at
    }
    private def u8(p: Int, v: Int): Unit = buf.put(p, v.toByte)
    private def u16(p: Int, v: Int): Unit = buf.putShort(p, v.toShort)
    private def u32(p: Int, v: Long): Unit = buf.putInt(p, v.toInt)
    private def u64(p: Int, v: Long): Unit = buf.putLong(p, v)
    private def bytes(p: Int, b: Array[Byte]): Unit = System.arraycopy(b, 0, arr, p, b.length)

    // --- global heap for vlen strings ---------------------------------

    private val GcolSize = 4096
    private var gcol = -1
    private var gcolUsed = 0
    private var gcolNext = 1

    /** Store a vlen body; returns (collection address, object index). */
    private def heapObject(b: Array[Byte]): (Long, Int) = {
      val need = 16 + ((b.length + 7) / 8) * 8
      require(need + 16 <= GcolSize - 16, s"vlen string too long: ${b.length} bytes")
      if (gcol < 0 || gcolUsed + need > GcolSize - 16) {
        closeGcol()
        gcol = reserve(GcolSize)
        bytes(gcol, "GCOL".getBytes(UTF_8))
        u8(gcol + 4, 1)
        u64(gcol + 8, GcolSize)
        gcolUsed = 16
        gcolNext = 1
      }
      val p = gcol + gcolUsed
      val idx = gcolNext
      u16(p, idx)
      u16(p + 2, 1) // reference count
      u64(p + 8, b.length)
      bytes(p + 16, b)
      gcolUsed += need
      gcolNext += 1
      (gcol.toLong, idx)
    }

    /** Free-space object (index 0) covering the rest of the collection. */
    private def closeGcol(): Unit = if (gcol >= 0) {
      val p = gcol + gcolUsed
      u16(p, 0)
      u64(p + 8, GcolSize - gcolUsed - 16)
    }

    // --- encodings ----------------------------------------------------

    private def le(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      f(b)
      b.array()
    }

    private val Int64Type: Array[Byte] = le(12) { b =>
      b.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte).putInt(8)
      b.putShort(0.toShort).putShort(64.toShort)
    }
    private val Float64Type: Array[Byte] = le(20) { b =>
      b.put(0x11.toByte).put(0x20.toByte).put(63.toByte).put(0.toByte).putInt(8)
      b.putShort(0.toShort).putShort(64.toShort)
      b.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte).putInt(1023)
    }
    /** Null-padded UTF-8 fixed string of `size` bytes. */
    private def fixedStringType(size: Int): Array[Byte] = le(8) { b =>
      b.put(0x13.toByte).put(0x11.toByte).put(0.toByte).put(0.toByte).putInt(size)
    }
    /** Variable-length UTF-8 string over a 1-byte unsigned base type. */
    private val VlenStringType: Array[Byte] = le(20) { b =>
      b.put(0x19.toByte).put(0x01.toByte).put(0x01.toByte).put(0.toByte).putInt(16)
      b.put(0x10.toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(1)
      b.putShort(0.toShort).putShort(8.toShort)
    }
    private def dataspace(dims: Seq[Long]): Array[Byte] = le(8 + 8 * dims.size) { b =>
      b.put(1.toByte).put(dims.size.toByte).put(0.toByte).put(0.toByte).putInt(0)
      dims.foreach(b.putLong)
    }
    /** Fill value message v2: early allocation, fill written if set,
      * no fill value defined. */
    private val FillValue: Array[Byte] = Array[Byte](2, 1, 2, 0)

    private def pad8(b: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOf(b, ((b.length + 7) / 8) * 8)

    private def attribute(name: String, value: String): Array[Byte] = {
      val n = (name + "\u0000").getBytes(UTF_8)
      val v = value.getBytes(UTF_8)
      val dt = fixedStringType(math.max(1, v.length))
      val ds = dataspace(Nil)
      val out = new java.io.ByteArrayOutputStream()
      out.write(le(8) { b =>
        b.put(1.toByte).put(0.toByte).putShort(n.length.toShort)
          .putShort(dt.length.toShort).putShort(ds.length.toShort)
      })
      out.write(pad8(n)); out.write(pad8(dt)); out.write(pad8(ds))
      out.write(java.util.Arrays.copyOf(v, math.max(1, v.length)))
      out.toByteArray
    }

    /** Version-1 object header holding `msgs` (type, body). */
    private def objectHeader(msgs: Seq[(Int, Array[Byte])]): Long = {
      val bodies = msgs.map { case (t, b) => (t, pad8(b)) }
      val size = bodies.map(8 + _._2.length).sum
      val p = reserve(16 + size)
      u8(p, 1)
      u16(p + 2, bodies.size)
      u32(p + 4, 1)
      u32(p + 8, size)
      var q = p + 16
      bodies.foreach { case (t, b) =>
        u16(q, t); u16(q + 2, b.length)
        bytes(q + 8, b)
        q += 8 + b.length
      }
      p.toLong
    }

    // --- datasets -----------------------------------------------------

    private def shape(v: PyValue): (Seq[Long], Vector[PyValue]) = v match {
      case PyList(items) =>
        if (items.isEmpty) (Seq(0L), Vector.empty)
        else {
          val inner = items.map(shape)
          require(inner.map(_._1).distinct.size == 1, "ragged array")
          (items.size.toLong +: inner.head._1, inner.flatMap(_._2))
        }
      case scalar => (Nil, Vector(scalar))
    }

    private def dataset(d: Data): Long = {
      val (dims, elems) = shape(d.value)
      val kinds = elems.map(_.getClass).distinct
      require(kinds.size <= 1, s"mixed element kinds: $kinds")
      val (dtype, raw): (Array[Byte], Array[Byte]) = elems.headOption match {
        case Some(_: PyFloat) =>
          (Float64Type, le(8 * elems.size)(b => elems.foreach { case PyFloat(x) => b.putDouble(x); case _ => () }))
        case Some(_: PyInt) | None =>
          (Int64Type, le(8 * elems.size)(b => elems.foreach { case PyInt(x) => b.putLong(x); case _ => () }))
        case Some(_: PyStr) if d.vlen =>
          val refs = elems.map { case PyStr(s) =>
            val b = s.getBytes(UTF_8)
            val (coll, idx) = heapObject(b)
            (b.length, coll, idx)
          case other => sys.error(s"not a string: $other") }
          (VlenStringType, le(16 * refs.size)(b => refs.foreach { case (n, c, i) =>
            b.putInt(n).putLong(c).putInt(i)
          }))
        case Some(_: PyStr) =>
          val enc = elems.map { case PyStr(s) => s.getBytes(UTF_8); case _ => Array.emptyByteArray }
          val size = math.max(1, enc.map(_.length).max)
          (fixedStringType(size), enc.flatMap(e => java.util.Arrays.copyOf(e, size)).toArray)
        case Some(other) => sys.error(s"unsupported element $other")
      }
      val layout =
        if (d.compact) {
          require(raw.length < 0xffff - 64, "compact data too large")
          le(4 + raw.length)(b => b.put(3.toByte).put(0.toByte).putShort(raw.length.toShort).put(raw))
        } else {
          val at = reserve(math.max(raw.length, 1))
          bytes(at, raw)
          le(18)(b => b.put(3.toByte).put(1.toByte).putLong(at.toLong).putLong(raw.length.toLong))
        }
      val attrs = d.attrs.toSeq.sortBy(_._1).map { case (k, v) => (0x000C, attribute(k, v)) }
      objectHeader(Seq(
        0x0001 -> dataspace(dims), 0x0003 -> dtype, 0x0005 -> FillValue,
        0x0008 -> layout) ++ attrs)
    }

    // --- groups -------------------------------------------------------

    /** Symbol-table group: returns (header, btree, heap) addresses. */
    private def group(g: Group): (Long, Long, Long) = {
      val kids = g.children.sortBy(_._1).map { case (name, n) => name -> node(n) }
      // local heap: offset 0 is the empty name, then NUL-terminated names
      val names = kids.map(_._1.getBytes(UTF_8))
      val offsets = names.scanLeft(8L)((off, b) => off + ((b.length + 1 + 7) / 8) * 8)
      val dataSize = offsets.last.toInt
      val heap = reserve(32)
      val data = reserve(dataSize)
      bytes(heap, "HEAP".getBytes(UTF_8))
      u64(heap + 8, dataSize)
      u64(heap + 16, Undef) // no free block
      u64(heap + 24, data)
      names.zip(offsets).foreach { case (b, off) => bytes(data + off.toInt, b) }

      val entries = kids.map(_._2).zip(offsets)
      val leaves = if (entries.isEmpty) Vector(Vector.empty) else entries.grouped(2 * LeafK).toVector
      require(leaves.size <= 2 * InternalK, s"group too large: ${kids.size} links")
      val snods = leaves.map { leaf =>
        val p = reserve(8 + 2 * LeafK * 40)
        bytes(p, "SNOD".getBytes(UTF_8))
        u8(p + 4, 1)
        u16(p + 6, leaf.size)
        leaf.zipWithIndex.foreach { case ((hdr, off), i) =>
          val e = p + 8 + i * 40
          u64(e, off)
          u64(e + 8, hdr)
        }
        (p.toLong, leaf.lastOption.map(_._2).getOrElse(0L))
      }
      val tree = reserve(24 + 2 * InternalK * 16 + 8)
      bytes(tree, "TREE".getBytes(UTF_8))
      u8(tree + 4, 0) // group node
      u8(tree + 5, 0) // leaf level
      u16(tree + 6, snods.size)
      u64(tree + 8, Undef)
      u64(tree + 16, Undef)
      u64(tree + 24, 0L) // key 0: the empty name
      snods.zipWithIndex.foreach { case ((addr, lastName), i) =>
        u64(tree + 32 + i * 16, addr)
        u64(tree + 40 + i * 16, lastName)
      }
      val stab = le(16)(b => b.putLong(tree.toLong).putLong(heap.toLong))
      (objectHeader(Seq(0x0011 -> stab)), tree.toLong, heap.toLong)
    }

    private def node(n: Node): Long = n match {
      case g: Group => group(g)._1
      case d: Data => dataset(d)
    }

    def file(root: Group): Array[Byte] = {
      val sb = reserve(96)
      val (hdr, tree, heap) = group(root)
      closeGcol()
      bytes(sb, Array(0x89, 'H', 'D', 'F', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      u8(sb + 13, 8) // size of offsets
      u8(sb + 14, 8) // size of lengths
      u16(sb + 16, LeafK)
      u16(sb + 18, InternalK)
      u64(sb + 24, 0L) // base address
      u64(sb + 32, Undef) // free-space info
      u64(sb + 40, end.toLong) // end of file
      u64(sb + 48, Undef) // driver info
      // root group symbol table entry with cached btree/heap
      u64(sb + 56, 0L)
      u64(sb + 64, hdr)
      u32(sb + 72, 1)
      u64(sb + 80, tree)
      u64(sb + 88, heap)
      java.util.Arrays.copyOf(arr, end)
    }
  }
}
