package graft.sources.excel

import java.io.{ByteArrayInputStream, InputStream, InputStreamReader, Reader, SequenceInputStream}
import java.nio.charset.{Charset, StandardCharsets}

/** A pull tokenizer over the bytes of one OOXML part; `XlsxReader` reads
  * every part of a workbook through it. It keeps a refillable window over
  * the inflated stream and matches markup byte by byte:
  *
  *   - `nextTag` steps to the next start or end tag (element names may
  *     carry a `prefix:`), passing over text, comments, processing
  *     instructions and CDATA;
  *   - `nextAttr` walks the current tag's attributes (either quote, blanks
  *     around `=`, entities decoded, a literal tab or line end read as a
  *     space); a `prefix:` is dropped from attribute names too;
  *   - `text` / `richText` decode element content: entities, character
  *     references, CDATA and XML line-end normalization;
  *   - `skipTo` leaves an element by jumping from `<` to `<`, never looking
  *     inside its tags — the cost of a cell or row nobody asked for.
  *
  * A part that is not UTF-8 (a UTF-16 byte-order mark or a declared
  * encoding) is transcoded to UTF-8 first, so the scanner has one path.
  * Only the window holds markup: one tag, or one element's text, larger
  * than [[XmlScanner.MaxElementBytes]] fails, as does a part that ends
  * before the caller saw the end it was looking for (a truncated part must
  * never read as a shorter, complete one). Errors name `where()`.
  */
private[excel] final class XmlScanner(raw: InputStream, onBytes: Int => Unit,
    where: () => String) extends AutoCloseable {
  import XmlScanner._

  private[this] var in: InputStream = raw
  private[this] var buf = new Array[Byte](1 << 16)
  private[this] var pos = 0
  private[this] var lim = 0
  private[this] var eof = false

  // the current tag: local name [nameFrom, nameTo), '>' at tagEnd
  private[this] var nameFrom = 0
  private[this] var nameTo = 0
  private[this] var tagEnd = 0
  private[this] var attrPos = 0
  /** The current tag is an end tag (`</x>`). */
  var isEnd = false
  /** The current tag is an empty-element tag (`<x/>`). */
  var selfClosing = false

  // the current attribute: local name in buf, value in valBuf
  private[this] var attrFrom = 0
  private[this] var attrTo = 0
  private[this] var valBuf: Array[Byte] = buf
  private[this] var valFrom = 0
  private[this] var valTo = 0
  private[this] val attrText = new ByteBuilder
  private[this] val textBuf = new ByteBuilder

  detectEncoding()

  def fail(what: String): Nothing = fail(what, null)

  def fail(what: String, cause: Throwable): Nothing =
    throw new org.apache.spark.SparkException(s"Malformed XML: $what in ${where()}", cause)

  def truncated(): Nothing =
    throw new org.apache.spark.SparkException(
      s"Truncated XML: the part ends before its markup closes in ${where()}")

  // ------------------------------------------------------------- window

  /** Reads more input after `lim`, first moving [keep, lim) to the front
    * (so `pos` shifts by `keep`) or, when `keep` is 0 and the window is
    * full, doubling the window. False at the end of input. */
  private def refill(keep: Int): Boolean = {
    if (eof) return false
    if (keep > 0) {
      System.arraycopy(buf, keep, buf, 0, lim - keep)
      lim -= keep
      pos -= keep
    } else if (lim == buf.length) {
      if (buf.length >= MaxElementBytes)
        fail(s"one element spans more than $MaxElementBytes bytes")
      buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    }
    val n = in.read(buf, lim, buf.length - lim)
    if (n < 0) { eof = true; false }
    else { lim += n; onBytes(n); true }
  }

  /** At least `n` bytes from `pos` are in the window, unless input ends. */
  private def ensure(n: Int): Boolean = {
    while (lim - pos < n) if (!refill(pos)) return false
    true
  }

  private def startsWith(lit: Array[Byte]): Boolean =
    ensure(lit.length) && matchAt(buf, pos, lit)

  /** Transcodes a UTF-16 (byte-order mark or `<\0?\0` start) or declared
    * non-UTF-8 part to UTF-8, and drops a UTF-8 byte-order mark. */
  private def detectEncoding(): Unit = {
    ensure(4)
    def b(i: Int): Int = if (i < lim) buf(i) & 0xff else -1
    val charset: Charset =
      if ((b(0) == 0xfe && b(1) == 0xff) || (b(0) == 0xff && b(1) == 0xfe))
        StandardCharsets.UTF_16
      else if (b(0) == 0 && b(1) == '<') StandardCharsets.UTF_16BE
      else if (b(0) == '<' && b(1) == 0) StandardCharsets.UTF_16LE
      else {
        if (b(0) == 0xef && b(1) == 0xbb && b(2) == 0xbf) pos = 3
        declaredEncoding().filter(_ != StandardCharsets.UTF_8).orNull
      }
    if (charset != null) {
      val head = new ByteArrayInputStream(java.util.Arrays.copyOfRange(buf, 0, lim))
      in = new Utf8Stream(new InputStreamReader(new SequenceInputStream(head, raw), charset))
      pos = 0
      lim = 0
      eof = false
    }
  }

  /** The `encoding` of an `<?xml …?>` declaration at `pos`, if any. */
  private def declaredEncoding(): Option[Charset] = {
    if (!startsWith(XmlDecl)) return None
    ensure(MaxDeclBytes)
    var end = pos
    while (end + 1 < lim && end - pos < MaxDeclBytes &&
      !(buf(end) == '?' && buf(end + 1) == '>')) end += 1
    val decl = new String(buf, pos, end - pos, StandardCharsets.ISO_8859_1)
    val m = EncodingAttr.findFirstMatchIn(decl).map(_.group(2))
    m.map { name =>
      try Charset.forName(name)
      catch { case _: IllegalArgumentException => fail(s"unsupported encoding '$name'") }
    }.filter(cs => cs != StandardCharsets.UTF_16 && cs != StandardCharsets.UTF_16BE &&
      cs != StandardCharsets.UTF_16LE)
  }

  // --------------------------------------------------------------- tags

  /** Steps to the next start or end tag, passing over text, comments,
    * processing instructions and CDATA. False at the end of input. */
  def nextTag(): Boolean = {
    while (true) {
      val l = lim
      val p = findLt(pos, l)
      pos = p
      if (p == l) { if (!refill(p)) return false }
      else if (markup()) return true
    }
    false
  }

  /** The first `<` in [from, to), or `to`; eight bytes at a time (a
    * zero byte of `word ^ "<<<<<<<<"` marks one). */
  private def findLt(from: Int, to: Int): Int = {
    var p = from
    while (p + 8 <= to) {
      val x = (LongView.get(buf, p): Long) ^ 0x3c3c3c3c3c3c3c3cL
      val hit = (x - 0x0101010101010101L) & ~x & 0x8080808080808080L
      if (hit != 0) return p + (java.lang.Long.numberOfTrailingZeros(hit) >>> 3)
      p += 8
    }
    while (p < to && buf(p) != '<') p += 1
    p
  }

  /** At a `<`: reads a tag (true) or steps over a comment, processing
    * instruction or CDATA section (false). */
  private def markup(): Boolean = {
    if (!ensure(2)) truncated()
    buf(pos + 1) match {
      case '!' =>
        if (startsWith(CommentOpen)) skipPast(CommentOpen.length, CommentEnd)
        else if (startsWith(CdataOpen)) skipPast(CdataOpen.length, CdataEnd)
        else fail("a document type or other declaration")
        false
      case '?' => skipPast(2, PiEnd); false
      case _ => readTag(); true
    }
  }

  /** Moves `pos` past the first `term` at least `from` bytes on. */
  private def skipPast(from: Int, term: Array[Byte]): Unit = {
    pos += from
    while (true) {
      var p = pos
      val last = lim - term.length
      while (p <= last) {
        if (matchAt(buf, p, term)) { pos = p + term.length; return }
        p += 1
      }
      pos = math.max(pos, last + 1)
      if (!refill(pos)) truncated()
    }
  }

  /** Reads the tag at `pos` (a `<`) up to its `>`, which may lie past
    * refills; quoted attribute values may hold a `>`. */
  private def readTag(): Unit = {
    var p = pos + 1
    var gt = -1
    while (gt < 0) {
      val l = lim
      val b = buf
      var c: Byte = 0
      while (p < l && { c = b(p); c != '>' && c != '"' && c != '\'' }) p += 1
      var more = p == l
      if (!more) {
        if (c == '>') gt = p
        else { // a quoted value: jump to its closing quote
          var e = p + 1
          while (e < l && b(e) != c) e += 1
          if (e < l) p = e + 1 else more = true
        }
      }
      if (more) {
        val off = p - pos
        if (!refill(pos)) truncated()
        p = pos + off
      }
    }
    p = gt
    tagEnd = p
    isEnd = buf(pos + 1) == '/'
    var n = if (isEnd) pos + 2 else pos + 1
    nameFrom = n
    while (n < p && !isNameEnd(buf(n))) {
      if (buf(n) == ':') nameFrom = n + 1
      n += 1
    }
    nameTo = n
    if (nameTo == nameFrom) fail("a tag without a name")
    selfClosing = !isEnd && buf(p - 1) == '/'
    attrPos = n
    pos = p + 1
  }

  /** The current tag's local name is `name`. */
  def nameIs(name: Array[Byte]): Boolean =
    nameTo - nameFrom == name.length && matchAt(buf, nameFrom, name)

  // --------------------------------------------------------- attributes

  /** Steps to the current tag's next attribute; false when none is left.
    * Only valid until the scanner moves on. */
  def nextAttr(): Boolean = {
    val end = if (selfClosing) tagEnd - 1 else tagEnd
    var p = attrPos
    while (p < end && isBlank(buf(p))) p += 1
    if (p >= end) return false
    attrFrom = p
    while (p < end && buf(p) != '=' && !isBlank(buf(p))) {
      if (buf(p) == ':') attrFrom = p + 1
      p += 1
    }
    attrTo = p
    while (p < end && isBlank(buf(p))) p += 1
    if (p >= end || buf(p) != '=') fail("an attribute without a value")
    p += 1
    while (p < end && isBlank(buf(p))) p += 1
    if (p >= end || (buf(p) != '"' && buf(p) != '\'')) fail("an unquoted attribute value")
    val q = buf(p)
    p += 1
    val from = p
    var decode = false // an entity, or a blank that normalizes to a space
    while (p < end && buf(p) != q) {
      val c = buf(p)
      if (c == '&' || (c < ' ' && c >= 0)) decode = true
      p += 1
    }
    if (p >= end) fail("an unterminated attribute value")
    attrPos = p + 1
    if (decode) {
      attrText.reset()
      decodeRun(from, p, attrText)
      valBuf = attrText.bytes; valFrom = 0; valTo = attrText.length
    } else { valBuf = buf; valFrom = from; valTo = p }
    true
  }

  /** The current attribute's local name is the one-byte name `c`. */
  def attrIs(c: Char): Boolean = attrTo - attrFrom == 1 && buf(attrFrom) == c

  def attrIs(name: Array[Byte]): Boolean =
    attrTo - attrFrom == name.length && matchAt(buf, attrFrom, name)

  def valueIs(lit: Array[Byte]): Boolean =
    valTo - valFrom == lit.length && matchAt(valBuf, valFrom, lit)

  def value: String = new String(valBuf, valFrom, valTo - valFrom, StandardCharsets.UTF_8)

  /** The value as `Integer.parseInt` reads it (optionally trimmed first,
    * as `String.trim` would), or `bad` when it is not an int. */
  def intValue(trim: Boolean, bad: Int): Int = {
    var from = valFrom
    var to = valTo
    if (trim) {
      while (from < to && (valBuf(from) & 0xff) <= ' ') from += 1
      while (to > from && (valBuf(to - 1) & 0xff) <= ' ') to -= 1
    }
    parseInt(valBuf, from, to, bad)
  }

  /** The 0-based column of a cell reference value ("C5" → 2), -1 when it
    * starts with no letter. A column past the sheet's last (XFD) fails
    * before it can grow a row or overflow. */
  def columnValue: Int = {
    var i = valFrom
    var col = 0
    while (i < valTo && isAsciiLetter(valBuf(i))) {
      col = col * 26 + ((valBuf(i) & 0xdf) - 'A' + 1)
      if (col > XlsxWriter.MaxColsPerSheet)
        fail(s"a cell reference '$value' past the last column " +
          s"(XFD, ${XlsxWriter.MaxColsPerSheet} columns)")
      i += 1
    }
    col - 1
  }

  // --------------------------------------------------------------- text

  /** The text of the current element (a start tag): that of all its
    * descendants, CDATA included, entities decoded, line ends
    * normalized; "" for an empty-element tag. Leaves `pos` after the
    * element's end tag. */
  def text(): String = {
    textBuf.reset()
    if (!selfClosing) appendText(textBuf)
    textBuf.utf8
  }

  /** Rich text (`<is>` or `<si>`, the current start tag named `outer`):
    * the `<t>` runs concatenated, those inside `<rPh>` phonetic runs
    * excluded — furigana annotations, not cell text (openpyxl's rule). */
  def richText(outer: Array[Byte]): String = {
    textBuf.reset()
    if (!selfClosing) {
      var rPhDepth = 0
      var done = false
      while (!done) {
        if (!nextTag()) truncated()
        if (isEnd) {
          if (nameIs(outer)) done = true
          else if (nameIs(RPh) && rPhDepth > 0) rPhDepth -= 1
        } else if (nameIs(T)) {
          if (rPhDepth == 0 && !selfClosing) appendText(textBuf)
          else if (!selfClosing) skipTo(T)
        } else if (nameIs(RPh) && !selfClosing) rPhDepth += 1
      }
    }
    textBuf.utf8
  }

  private def appendText(out: ByteBuilder): Unit = {
    var depth = 0
    while (true) {
      var p = pos
      val l = lim
      val b = buf
      while (p < l && b(p) != '<' && b(p) != '&' && b(p) != '\r') p += 1
      out.append(b, pos, p - pos)
      pos = p
      if (out.length > MaxElementBytes)
        fail(s"one element's text spans more than $MaxElementBytes bytes")
      if (p == l) { if (!refill(p)) truncated() }
      else b(p) match {
        case '&' =>
          ensure(MaxEntityBytes)
          pos = decodeEntity(buf, pos, lim, out)
        case '\r' => lineEnd(out)
        case _ =>
          if (!ensure(2)) truncated()
          if (buf(pos + 1) == '!' && startsWith(CdataOpen)) appendCdata(out)
          else if (buf(pos + 1) == '!' || buf(pos + 1) == '?') markup()
          else {
            readTag()
            if (isEnd) { if (depth == 0) return else depth -= 1 }
            else if (!selfClosing) depth += 1
          }
      }
    }
  }

  /** CR or CRLF at `pos` → LF (XML 1.0 §2.11). */
  private def lineEnd(out: ByteBuilder): Unit = {
    pos += (if (ensure(2) && buf(pos + 1) == '\n') 2 else 1)
    out += '\n'
  }

  private def appendCdata(out: ByteBuilder): Unit = {
    pos += CdataOpen.length
    while (true) {
      var p = pos
      while (p < lim && buf(p) != ']' && buf(p) != '\r') p += 1
      out.append(buf, pos, p - pos)
      pos = p
      if (out.length > MaxElementBytes)
        fail(s"one element's text spans more than $MaxElementBytes bytes")
      if (p == lim) { if (!refill(p)) truncated() }
      else if (buf(p) == '\r') lineEnd(out)
      else {
        if (!ensure(3)) truncated()
        if (buf(pos + 1) == ']' && buf(pos + 2) == '>') { pos += 3; return }
        out += ']'
        pos += 1
      }
    }
  }

  /** Decodes [from, to) of the window (an attribute value) into `out`:
    * entities, and each literal tab, LF, CR or CRLF as one space (XML 1.0
    * §3.3.3; a character reference is kept as it is). */
  private def decodeRun(from: Int, to: Int, out: ByteBuilder): Unit = {
    var p = from
    while (p < to) {
      val c = buf(p)
      if (c == '&') p = decodeEntity(buf, p, to, out)
      else if (c == '\t' || c == '\n' || c == '\r') {
        out += ' '
        p += (if (c == '\r' && p + 1 < to && buf(p + 1) == '\n') 2 else 1)
      } else { out += c; p += 1 }
    }
  }

  /** Decodes the entity or character reference at `b(p)` (an `&`) into
    * `out`; returns the index after its `;`. Only the five predefined
    * entities exist in a part without a document type. */
  private def decodeEntity(b: Array[Byte], p: Int, end: Int, out: ByteBuilder): Int = {
    var semi = p + 1
    while (semi < end && semi - p < MaxEntityBytes && b(semi) != ';') semi += 1
    if (semi >= end || b(semi) != ';') fail("an unterminated entity reference")
    val name = new String(b, p + 1, semi - p - 1, StandardCharsets.ISO_8859_1)
    name match {
      case "amp" => out += '&'
      case "lt" => out += '<'
      case "gt" => out += '>'
      case "quot" => out += '"'
      case "apos" => out += '\''
      case _ if name.startsWith("#") =>
        val cp =
          try {
            if (name.startsWith("#x")) Integer.parseInt(name.substring(2), 16)
            else Integer.parseInt(name.substring(1), 10)
          } catch { case _: NumberFormatException => -1 }
        val legal = cp == 0x9 || cp == 0xa || cp == 0xd ||
          (cp >= 0x20 && cp <= 0xd7ff) || (cp >= 0xe000 && cp <= 0xfffd) ||
          (cp >= 0x10000 && cp <= 0x10ffff)
        if (!legal) fail(s"an illegal character reference &$name;")
        out.appendCodePoint(cp)
      case _ => fail(s"an undeclared entity &$name;")
    }
    semi + 1
  }

  // --------------------------------------------------------------- skip

  /** Steps past the next end tag named `name`, looking at nothing but the
    * `<`s on the way (and the comments, CDATA and processing instructions
    * they may open). Used from inside an element of that name, which does
    * not nest in itself in a worksheet. */
  def skipTo(name: Array[Byte]): Unit = {
    val n = name.length
    while (true) {
      val l = lim
      val p = findLt(pos, l)
      pos = p
      if (p == l) { if (!refill(p)) truncated() }
      else if (!ensure(2)) truncated()
      else {
        val lt = pos // ensure may have moved the window
        val c = buf(lt + 1)
        if (c == '/') {
          // an end tag holds no quotes: its local name ends right before
          // the '>' (and any blanks), after the '/' or a prefix's ':'
          var g = lt + 2
          while (g < lim && buf(g) != '>') g += 1
          if (g == lim) { if (!refill(pos)) truncated() }
          else {
            var e = g
            while (isBlank(buf(e - 1))) e -= 1
            val from = e - n
            pos = g + 1
            if (from > lt + 1 && (buf(from - 1) == '/' || buf(from - 1) == ':') &&
              matchAt(buf, from, name)) return
          }
        } else if (c == '!' || c == '?') markup()
        else pos = lt + 1
      }
    }
  }

  override def close(): Unit =
    try in.close() catch { case _: java.io.IOException => () }
}

private[excel] object XmlScanner {

  /** The largest tag or element text the window may hold (8 MiB). Excel
    * caps a cell at 32,767 characters, so no legitimate workbook nears it;
    * it bounds the memory a hostile part can take. */
  final val MaxElementBytes = 8 << 20

  private final val MaxEntityBytes = 32
  private final val MaxDeclBytes = 512

  def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private val CommentOpen = bytes("<!--")
  private val CommentEnd = bytes("-->")
  private val CdataOpen = bytes("<![CDATA[")
  private val CdataEnd = bytes("]]>")
  private val PiEnd = bytes("?>")
  private val XmlDecl = bytes("<?xml")
  private val EncodingAttr = """encoding\s*=\s*(["'])([^"']*)\1""".r
  private val T = bytes("t")
  private val RPh = bytes("rPh")

  private def matchAt(b: Array[Byte], p: Int, lit: Array[Byte]): Boolean = {
    var i = 0
    while (i < lit.length) { if (b(p + i) != lit(i)) return false; i += 1 }
    true
  }

  private val LongView = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  private def isBlank(c: Byte): Boolean = c == ' ' || c == '\n' || c == '\t' || c == '\r'

  private def isNameEnd(c: Byte): Boolean = isBlank(c) || c == '/' || c == '>'

  private def isAsciiLetter(c: Byte): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** `Integer.parseInt` over ASCII bytes, `bad` where it would throw. */
  private def parseInt(b: Array[Byte], from: Int, to: Int, bad: Int): Int = {
    var i = from
    val neg = i < to && b(i) == '-'
    if (i < to && (b(i) == '-' || b(i) == '+')) i += 1
    if (i == to) return bad
    var acc = 0L
    while (i < to) {
      val d = b(i) - '0'
      if (d < 0 || d > 9) return bad
      acc = acc * 10 + d
      if (acc > Int.MaxValue.toLong + 1) return bad
      i += 1
    }
    val v = if (neg) -acc else acc
    if (v > Int.MaxValue) bad else v.toInt
  }
}

/** A growable byte array: decoded text on its way to a `String`, and a
  * sheet's encoded XML on its way to deflate. */
private[excel] final class ByteBuilder {
  var bytes = new Array[Byte](256)
  var length = 0

  def reset(): Unit = length = 0

  /** Appends ASCII text, one byte a char. */
  def appendAscii(s: CharSequence): Unit = {
    if (length + s.length > bytes.length) grow(length + s.length)
    var i = 0
    while (i < s.length) { bytes(length + i) = s.charAt(i).toByte; i += 1 }
    length += s.length
  }

  def +=(b: Byte): Unit = {
    if (length == bytes.length) grow(length + 1)
    bytes(length) = b
    length += 1
  }

  def +=(c: Char): Unit = this += c.toByte

  def append(src: Array[Byte], from: Int, n: Int): Unit = {
    if (length + n > bytes.length) grow(length + n)
    System.arraycopy(src, from, bytes, length, n)
    length += n
  }

  def appendCodePoint(cp: Int): Unit = {
    val s = new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8)
    append(s, 0, s.length)
  }

  def utf8: String = new String(bytes, 0, length, StandardCharsets.UTF_8)

  private def grow(min: Int): Unit =
    bytes = java.util.Arrays.copyOf(bytes, math.max(min, bytes.length * 2))
}

/** A character stream re-encoded as UTF-8 bytes (a surrogate pair split
  * across two reads is held back until its second half arrives). */
private final class Utf8Stream(r: Reader) extends InputStream {
  private val chars = new Array[Char](1 << 13)
  private var held = 0 // chars carried over to the next chunk (0 or 1)
  private var out = Array.emptyByteArray
  private var i = 0

  private def fill(): Boolean = {
    while (i == out.length) {
      val n = r.read(chars, held, chars.length - held)
      if (n < 0 && held == 0) return false
      val total = held + math.max(n, 0)
      held = if (n > 0 && Character.isHighSurrogate(chars(total - 1))) 1 else 0
      out = new String(chars, 0, total - held).getBytes(StandardCharsets.UTF_8)
      if (held == 1) chars(0) = chars(total - 1)
      i = 0
      if (n < 0) held = 0
    }
    true
  }

  override def read(): Int =
    if (!fill()) -1 else { val b = out(i) & 0xff; i += 1; b }

  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0
    else if (!fill()) -1
    else {
      val n = math.min(len, out.length - i)
      System.arraycopy(out, i, b, off, n)
      i += n
      n
    }

  override def close(): Unit = r.close()
}
