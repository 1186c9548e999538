package graft.sources.excel

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, Deflater}

/** The ZIP container every workbook we write goes through.
  *
  * Each entry is DEFLATE-compressed and written with a data descriptor
  * (general-purpose flag bit 3), so its body can be streamed, or spliced
  * together from raw-deflate pieces that were compressed elsewhere: the
  * caller hands over the body's compressed bytes through [[data]] and,
  * at [[endEntry]], the CRC-32 and size of the uncompressed bytes. ZIP64
  * records are written only where a size, an offset or the entry count
  * reaches its 32-bit (16-bit) field's maximum, as `ZipOutputStream` does.
  */
private[excel] final class ZipWriter(out: OutputStream) {
  import ZipWriter._

  private val os = new BufferedOutputStream(out, 1 << 16)
  private var pos = 0L
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
  private var open: (Array[Byte], Long, Long) = null // name, offset, data start

  /** The open entry's compressed body. */
  val data: OutputStream = new OutputStream {
    override def write(b: Int): Unit = { os.write(b); pos += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      os.write(b, off, len); pos += len
    }
  }

  /** Compressed bytes written so far, container records included. */
  def bytesWritten: Long = pos

  def beginEntry(name: String): Unit = {
    require(open == null, "previous ZIP entry is still open")
    val n = name.getBytes(UTF_8)
    val offset = pos
    int(LocSig); short(Version); short(Flags); short(Deflated)
    short(DosTime); short(DosDate)
    int(0); int(0); int(0) // crc and sizes follow in the data descriptor
    short(n.length); short(0)
    bytes(n)
    open = (n, offset, pos)
  }

  def endEntry(crc: Long, size: Long): Unit = {
    val (n, offset, start) = open
    val csize = pos - start
    int(ExtSig); int(crc)
    if (size >= Magic32 || csize >= Magic32) { long(csize); long(size) }
    else { int(csize); int(size) }
    entries += Entry(n, offset, crc, size, csize)
    open = null
  }

  /** A whole entry from text held in memory. */
  def entry(name: String, content: String): Unit = {
    beginEntry(name)
    val p = new DeflatePiece(data)
    val b = content.getBytes(UTF_8)
    p.write(b, 0, b.length)
    val s = p.close(last = true)
    endEntry(s.crc, s.rawBytes)
  }

  /** Writes the central directory and closes the stream. */
  def close(): Unit = {
    require(open == null, "ZIP entry still open at close")
    val cdStart = pos
    entries.foreach { e =>
      val extra = Seq(e.size, e.csize, e.offset).filter(_ >= Magic32)
      int(CenSig)
      short(if (extra.nonEmpty) Version64 else Version) // made by
      short(if (extra.nonEmpty) Version64 else Version) // needed
      short(Flags); short(Deflated); short(DosTime); short(DosDate)
      int(e.crc); int(math.min(e.csize, Magic32)); int(math.min(e.size, Magic32))
      short(e.name.length); short(if (extra.isEmpty) 0 else 4 + 8 * extra.size)
      short(0); short(0); short(0); int(0) // comment, disk, attributes
      int(math.min(e.offset, Magic32))
      bytes(e.name)
      if (extra.nonEmpty) { short(0x0001); short(8 * extra.size); extra.foreach(long) }
    }
    val cdSize = pos - cdStart
    if (entries.size >= Magic16 || cdSize >= Magic32 || cdStart >= Magic32) {
      val eocd64 = pos
      int(End64Sig); long(44); short(Version64); short(Version64)
      int(0); int(0); long(entries.size); long(entries.size)
      long(cdSize); long(cdStart)
      int(Loc64Sig); int(0); long(eocd64); int(1)
    }
    int(EndSig); short(0); short(0)
    short(math.min(entries.size, Magic16).toInt)
    short(math.min(entries.size, Magic16).toInt)
    int(math.min(cdSize, Magic32)); int(math.min(cdStart, Magic32))
    short(0)
    os.close()
  }

  private def bytes(b: Array[Byte]): Unit = { os.write(b); pos += b.length }
  private def short(v: Int): Unit = {
    os.write(v & 0xff); os.write((v >>> 8) & 0xff); pos += 2
  }
  private def int(v: Long): Unit = { short((v & 0xffff).toInt); short(((v >>> 16) & 0xffff).toInt) }
  private def long(v: Long): Unit = { int(v & 0xffffffffL); int(v >>> 32) }
}

private[excel] object ZipWriter {
  private final case class Entry(name: Array[Byte], offset: Long,
      crc: Long, size: Long, csize: Long)

  private val LocSig = 0x04034b50L
  private val ExtSig = 0x08074b50L
  private val CenSig = 0x02014b50L
  private val EndSig = 0x06054b50L
  private val End64Sig = 0x06064b50L
  private val Loc64Sig = 0x07064b50L
  private val Version = 20
  private val Version64 = 45
  private val Flags = 0x0808 // data descriptor, UTF-8 names
  private val Deflated = 8
  private val DosTime = 0
  private val DosDate = (1 << 5) | 1 // 1980-01-01: output is reproducible
  private val Magic32 = 0xffffffffL
  private val Magic16 = 0xffff

  /** Copies exactly `n` bytes from `in` to `out`; a short input fails. */
  def copy(in: InputStream, out: OutputStream, n: Long): Unit = {
    val buf = new Array[Byte](1 << 16)
    var left = n
    while (left > 0) {
      val r = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
      if (r < 0) throw new java.io.EOFException(
        s"segment ended ${left} bytes before its committed length $n")
      out.write(buf, 0, r)
      left -= r
    }
  }

  /** CRC-32 of the concatenation A·B from crc(A), crc(B) and |B| — zlib's
    * `crc32_combine`: appending |B| zero bytes to A is a linear map on
    * the CRC register over GF(2), applied by repeated squaring of the
    * one-zero-bit operator (a 32×32 bit matrix, one Long per column). */
  def crc32Combine(crcA: Long, crcB: Long, lenB: Long): Long = {
    if (lenB <= 0) return crcA
    val even = new Array[Long](32) // operator for 2^k zero bits, k even
    val odd = new Array[Long](32)
    odd(0) = 0xedb88320L // one zero bit: the reflected CRC-32 polynomial
    var row = 1L
    var n = 1
    while (n < 32) { odd(n) = row; row <<= 1; n += 1 }
    square(even, odd) // two zero bits
    square(odd, even) // four zero bits
    var crc = crcA
    var len = lenB
    var useEven = true
    while (len != 0) { // first pass squares to one zero byte
      if (useEven) square(even, odd) else square(odd, even)
      if ((len & 1) != 0) crc = times(if (useEven) even else odd, crc)
      len >>>= 1
      useEven = !useEven
    }
    crc ^ crcB
  }

  private def times(mat: Array[Long], vec0: Long): Long = {
    var vec = vec0
    var sum = 0L
    var i = 0
    while (vec != 0) {
      if ((vec & 1) != 0) sum ^= mat(i)
      vec >>>= 1
      i += 1
    }
    sum
  }

  private def square(sq: Array[Long], mat: Array[Long]): Unit = {
    var n = 0
    while (n < 32) { sq(n) = times(mat, mat(n)); n += 1 }
  }
}

/** One raw-DEFLATE piece of a ZIP entry body, with what the entry
  * records for it. Closed with `SYNC_FLUSH` the piece ends on a byte
  * boundary without a final block, so further pieces — each from its own
  * `Deflater` — can follow it byte for byte; the last piece of an entry
  * is closed with `FINISH`. */
private[excel] final class DeflatePiece(out: OutputStream) {
  private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
  private val crc = new CRC32
  private val buf = new Array[Byte](1 << 16)
  private var raw = 0L
  private var deflated = 0L

  def deflatedBytes: Long = deflated

  def write(b: Array[Byte], off: Int, len: Int): Unit = {
    crc.update(b, off, len)
    raw += len
    deflater.setInput(b, off, len)
    while (!deflater.needsInput()) drain(Deflater.NO_FLUSH)
  }

  private def drain(flush: Int): Int = {
    val n = deflater.deflate(buf, 0, buf.length, flush)
    out.write(buf, 0, n)
    deflated += n
    n
  }

  /** Ends the piece: with `FINISH` when it is the entry's last, else
    * with `SYNC_FLUSH`. */
  def close(last: Boolean): XlsxWriter.Segment = {
    if (last) {
      deflater.finish()
      while (!deflater.finished()) drain(Deflater.NO_FLUSH)
    } else while (drain(Deflater.SYNC_FLUSH) == buf.length) ()
    deflater.end()
    XlsxWriter.Segment(0L, raw, crc.getValue, deflated)
  }
}
