package graft.streaming

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal FlatBuffers wire-format reader/writer, hand-rolled from the
  * public binary format specification (google.github.io/flatbuffers/
  * flatbuffers_internals.html) — no generated code, no toolchain.
  *
  * Only what the two reference message types need: a single root table
  * of scalars (bool/int/ulong) and strings. The READER is fully general
  * over the format (vtable indirection, trimmed vtables, default-valued
  * absent fields, vtables placed before or after their table), so
  * buffers produced by any conformant builder — including the python
  * `flatbuffers` runtime the reference's streaming-data-types package
  * uses — decode correctly. The WRITER emits one fixed, valid layout
  * (root offset, file id, vtable, 8-aligned table, then strings); it
  * exists for tests and for producing reference-compatible messages.
  *
  * Format recap (all little-endian):
  *  - buffer[0:4]  uoffset to the root table (relative to position 0);
  *  - buffer[4:8]  4-byte file identifier (`wrdn` / `pl72`);
  *  - table start: soffset_t; vtable_pos = table_pos - soffset (signed,
  *    so the vtable may live on either side of the table);
  *  - vtable: u16 vtable_size_bytes, u16 table_inline_size, then one
  *    u16 per field id = offset of that field from table start, 0 =
  *    absent (default applies). Trailing zero entries may be trimmed;
  *  - scalar fields inline at table_pos + off; string fields hold a
  *    u32 uoffset (relative to the field position) to `u32 len` + bytes.
  */
object FlatBuf {

  /** Lazy view of one table inside a buffer. Its vtable must lie in
    * the buffer and hold at least its two size fields, so every field
    * lookup reads vtable bytes; a field's own data is bounds-checked
    * when it is read. */
  final class Table(val bytes: Array[Byte], val pos: Int) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    private val vt = pos - bb.getInt(pos)
    require(vt >= 0 && vt <= bytes.length - 4, s"vtable @ $vt outside the buffer")
    private val vtSize = bb.getShort(vt) & 0xFFFF
    require(vtSize >= 4 && vt + vtSize <= bytes.length, s"vtable @ $vt: bad size $vtSize")

    /** Absolute position of field `id`'s inline data, or 0 if absent. */
    def fieldPos(id: Int): Int = {
      val entry = 4 + 2 * id
      if (entry + 2 > vtSize) 0
      else {
        val rel = bb.getShort(vt + entry) & 0xFFFF
        if (rel == 0) 0 else pos + rel
      }
    }

    def string(id: Int): Option[String] = fieldPos(id) match {
      case 0 => None
      case p =>
        val sp = p + bb.getInt(p)
        val len = bb.getInt(sp)
        Some(new String(bytes, sp + 4, len, UTF_8))
    }

    def bool(id: Int, default: Boolean): Boolean = fieldPos(id) match {
      case 0 => default
      case p => bb.get(p) != 0
    }

    def u64(id: Int, default: Long): Long = fieldPos(id) match {
      case 0 => default
      case p => bb.getLong(p)
    }
  }

  /** The root table. Its offset must clear the root offset and file
    * identifier (bytes [0:8]) and leave room for the table's soffset. */
  def root(bytes: Array[Byte]): Table = {
    val pos = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(0)
    require(pos >= 8 && pos <= bytes.length - 4, s"root offset $pos outside the buffer")
    new Table(bytes, pos)
  }

  // ----------------------------- writer ------------------------------

  sealed trait Field { def size: Int; def align: Int }
  final case class FStr(v: String) extends Field { val size = 4; val align = 4 }
  final case class FBool(v: Boolean) extends Field { val size = 1; val align = 1 }
  final case class FI32(v: Int) extends Field { val size = 4; val align = 4 }
  final case class FU64(v: Long) extends Field { val size = 8; val align = 8 }
  case object FAbsent extends Field { val size = 0; val align = 1 }

  private def align(x: Int, a: Int): Int = (x + a - 1) / a * a

  /** Serialize one root table with the given fields (by field id order)
    * and 4-byte file identifier. */
  def writeTable(fileIdent: String, fields: Seq[Field]): Array[Byte] = {
    require(fileIdent.getBytes(UTF_8).length == 4, "file id must be 4 bytes")
    val n = fields.length
    val vtPos = 8
    val vtSize = 4 + 2 * n
    // inline slot layout (relative to table start, after the 4-byte soffset)
    var cursor = 4
    val slots = fields.map {
      case FAbsent => 0
      case f => cursor = align(cursor, f.align); val s = cursor; cursor += f.size; s
    }
    val tablePos = align(vtPos + vtSize, 8)
    val inlineSize = cursor
    // strings appended after the table, each 4-aligned
    var strCursor = align(tablePos + inlineSize, 4)
    val strPos = fields.map {
      case FStr(v) =>
        val p = strCursor
        strCursor = align(p + 4 + v.getBytes(UTF_8).length + 1, 4)
        p
      case _ => 0
    }
    val buf = ByteBuffer.allocate(strCursor).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(0, tablePos)
    System.arraycopy(fileIdent.getBytes(UTF_8), 0, buf.array(), 4, 4)
    buf.putShort(vtPos, vtSize.toShort)
    buf.putShort(vtPos + 2, inlineSize.toShort)
    slots.zipWithIndex.foreach { case (s, i) =>
      buf.putShort(vtPos + 4 + 2 * i, s.toShort)
    }
    buf.putInt(tablePos, tablePos - vtPos) // soffset back to the vtable
    fields.zip(slots).zip(strPos).foreach {
      case ((FStr(v), slot), sp) =>
        buf.putInt(tablePos + slot, sp - (tablePos + slot))
        val b = v.getBytes(UTF_8)
        buf.putInt(sp, b.length)
        System.arraycopy(b, 0, buf.array(), sp + 4, b.length)
      case ((FBool(v), slot), _) => buf.put(tablePos + slot, if (v) 1.toByte else 0.toByte)
      case ((FI32(v), slot), _) => buf.putInt(tablePos + slot, v)
      case ((FU64(v), slot), _) => buf.putLong(tablePos + slot, v)
      case ((FAbsent, _), _) => ()
    }
    buf.array()
  }
}
