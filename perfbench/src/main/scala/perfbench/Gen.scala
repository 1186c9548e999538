package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.zip.{CRC32, Deflater, ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.types._

/** SplitMix64: a tiny deterministic generator. Every row gets its own
  * stream derived from (seed, table salt, row id), so a row's values do not
  * depend on which file, partition or thread produces it. */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def chance(p: Double): Boolean = (nextLong() >>> 11) / 9007199254740992.0 < p
}

object Rng {
  def forRow(seed: Long, salt: Long, row: Long): Rng =
    new Rng(new Rng(seed * 0x632BE59BD9B4E019L + salt).nextLong() ^ (row * 0xD1B54A32D192ED03L))
}

/** One generated column: its Spark type and a value per (rng, row id).
  * Values use the connector's reader types: Integer, Double, String,
  * LocalDate, LocalDateTime, Boolean, or null. */
final case class Col(name: String, dataType: DataType, gen: (Rng, Long) => Any)

final case class Table(name: String, salt: Long, cols: IndexedSeq[Col]) {
  val schema: StructType =
    StructType(cols.map(c => StructField(c.name, c.dataType, nullable = true)))
  def row(seed: Long, id: Long): Array[Any] = {
    val r = Rng.forRow(seed, salt, id)
    val out = new Array[Any](cols.length)
    var i = 0
    while (i < out.length) { out(i) = cols(i).gen(r, id); i += 1 }
    out
  }
}

/** Text that looks like a document corpus: words from a seeded vocabulary
  * with the characters that need care in OOXML mixed in — `&`, `<`, `>`,
  * quotes, tabs, newlines, CR, C0 control characters (stored as `_xHHHH_`)
  * and literal `_xHHHH_` text (stored as `_x005F_xHHHH_`). */
final class Words(seed: Long) {
  private val syllables = Array("ka", "lo", "mi", "tre", "sun", "ve", "ra", "dor",
    "an", "el", "qui", "po", "zy", "th", "ex", "ol", "ban", "ci", "mu", "st")
  private val vocab: Array[String] = {
    val r = new Rng(seed ^ 0x5EEDL)
    val extra = Array("café", "naïve", "Straße", "日本語", "данные", "señal")
    Array.tabulate(3000) { i =>
      if (i < extra.length) extra(i)
      else {
        val sb = new StringBuilder
        (0 to r.nextInt(3)).foreach(_ => sb.append(syllables(r.nextInt(syllables.length))))
        sb.toString
      }
    }
  }
  private val specials = Array("&", "R&D", "<b>", "a<b", "x > y", "\"quoted\"",
    "it's", "\u0001", "\u0007", "\u001f", "\t", "\n", "\r\n", "_x0041_", "&amp;")

  def word(r: Rng): String = vocab(r.nextInt(vocab.length))

  def text(r: Rng, minWords: Int, maxWords: Int): String = {
    val n = minWords + r.nextInt(maxWords - minWords + 1)
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (r.chance(0.08)) ". " else " ")
      sb.append(if (r.chance(0.03)) specials(r.nextInt(specials.length)) else word(r))
      i += 1
    }
    sb.toString
  }
}

object Tables {
  def named(name: String, seed: Long): Table = name match {
    case "mixed" => mixed(seed)
    case "docs" => docs(seed)
  }

  private val EpochDay2000 = 10957
  private val EpochSecond2000 = 946684800L

  private def nullable(p: Double)(g: (Rng, Long) => Any): (Rng, Long) => Any =
    (r, id) => if (r.chance(p)) null else g(r, id)

  /** Odd multiples of 1/1024: exact in binary, never integral (so schema
    * inference keeps the column a double) and checksummed exactly. */
  private def fraction(r: Rng, range: Int, offset: Int = 0): java.lang.Double =
    java.lang.Double.valueOf((2.0 * (r.nextInt(range) - offset) + 1) / 1024.0)

  private def day(r: Rng): LocalDate = LocalDate.ofEpochDay(EpochDay2000 + r.nextInt(11000))
  private def timestamp(r: Rng): LocalDateTime =
    LocalDateTime.ofEpochSecond(EpochSecond2000 + (r.nextLong() >>> 1) % 900000000L, 0, ZoneOffset.UTC)

  private val cities = Array("Lisbon", "Osaka", "Lagos", "Lima", "Oslo", "Pune",
    "Quito", "Riga", "Turin", "Hanoi", "Perth", "Accra", "Bergen", "Cusco",
    "Dakar", "Essen", "Fez", "Graz", "Hue", "Sète & Agde")

  /** The wide mixed row: 12 columns of int, double, string, date,
    * timestamp and bool, with nulls. */
  def mixed(seed: Long): Table = {
    val w = new Words(seed)
    Table("mixed", 1, IndexedSeq(
      Col("id", IntegerType, (_, id) => Integer.valueOf(id.toInt)),
      Col("qty", IntegerType, nullable(0.05)((r, _) => Integer.valueOf(r.nextInt(1000000)))),
      Col("price", DoubleType, (r, _) => fraction(r, 2000000)),
      Col("ratio", DoubleType, nullable(0.10)((r, _) => fraction(r, 4096, 2048))),
      Col("amount", DoubleType, (r, _) => fraction(r, 1 << 30)),
      Col("name", StringType, nullable(0.05)((r, _) => w.word(r) + "-" + r.nextInt(100000))),
      Col("city", StringType, (r, _) => cities(r.nextInt(cities.length))),
      Col("note", StringType, nullable(0.20)((r, _) => w.text(r, 2, 12))),
      Col("day", DateType, nullable(0.05)((r, _) => day(r))),
      Col("ts", TimestampType, nullable(0.05)((r, _) => timestamp(r))),
      Col("flag", BooleanType, nullable(0.10)((r, _) => java.lang.Boolean.valueOf(r.chance(0.5)))),
      Col("rank", IntegerType, nullable(0.30)((r, _) => Integer.valueOf(r.nextInt(100) - 50)))))
  }

  /** The document row: one long, high-cardinality text column beside a few
    * small ones, as in an LLM training corpus kept in a spreadsheet. */
  def docs(seed: Long): Table = {
    val w = new Words(seed)
    val tags = Array.tabulate(60)(i => s"topic-${i % 12}/${w.word(new Rng(seed + i))}")
    Table("docs", 2, IndexedSeq(
      Col("id", IntegerType, (_, id) => Integer.valueOf(id.toInt)),
      Col("score", DoubleType, nullable(0.05)((r, _) => fraction(r, 1 << 20))),
      Col("day", DateType, (r, _) => day(r)),
      Col("tag", StringType, (r, _) => tags(r.nextInt(tags.length))),
      Col("doc", StringType, nullable(0.02)((r, _) => w.text(r, 8, 60)))))
  }
}

/** Order-independent per-column checksum: row count, then for each column
  * its non-null count and a sum of per-value integers. The same sums are
  * computed by Spark over what the connector returns ([[Check]]). */
final class Checksum(val schema: StructType) {
  private val n = schema.length
  var rows = 0L
  val nonNull = new Array[Long](n)
  val sums = new Array[Long](n)

  def add(row: Array[Any]): Unit = {
    rows += 1
    var i = 0
    while (i < n) {
      val v = row(i)
      if (v != null) {
        nonNull(i) += 1
        sums(i) += Checksum.contrib(schema(i).dataType, v)
      }
      i += 1
    }
  }

  def merge(o: Checksum): Checksum = {
    rows += o.rows
    (0 until n).foreach { i => nonNull(i) += o.nonNull(i); sums(i) += o.sums(i) }
    this
  }

  /** rows, then (non-null count, sum) per column, for the named columns. */
  def values(columns: Seq[String]): Seq[Long] =
    rows +: columns.flatMap { c =>
      val i = schema.fieldIndex(c)
      Seq(nonNull(i), sums(i))
    }
}

object Checksum {
  def contrib(dt: DataType, v: Any): Long = dt match {
    case IntegerType => v.asInstanceOf[Integer].longValue()
    case DoubleType => (v.asInstanceOf[java.lang.Double].doubleValue() * 1024).toLong
    case StringType =>
      val c = new CRC32
      c.update(v.asInstanceOf[String].getBytes(UTF_8))
      c.getValue
    case DateType => v.asInstanceOf[LocalDate].toEpochDay
    case TimestampType => v.asInstanceOf[LocalDateTime].toEpochSecond(ZoneOffset.UTC) * 1000L
    case BooleanType => if (v.asInstanceOf[java.lang.Boolean]) 1L else 0L
    case other => throw new IllegalArgumentException(s"no checksum for $other")
  }
}

/** Writes one-sheet workbooks the way spreadsheet tools do, independent of
  * the connector's own writer: a `<dimension>`, dates as serial numbers
  * under a date number format, and strings either inline (as the
  * connector's writer stores them) or in `xl/sharedStrings.xml` with
  * `count` and `uniqueCount` (as Excel and openpyxl store them). */
object Workbook {

  private def colLetters(i: Int): String = {
    val sb = new StringBuilder
    var k = i + 1
    while (k > 0) { sb.insert(0, ('A' + (k - 1) % 26).toChar); k = (k - 1) / 26 }
    sb.toString
  }

  /** XML text with OOXML escapes: CR and C0 controls as `_xHHHH_`, and a
    * literal `_xHHHH_` guarded as `_x005F_xHHHH_`. */
  def escape(s: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c if c < ' ' && c != '\t' && c != '\n' =>
          sb.append("_x").append(String.format("%04X", Integer.valueOf(c.toInt))).append('_')
        case '_' if looksLikeEscape(s, i) => sb.append("_x005F_")
        case c => sb.append(c)
      }
      i += 1
    }
  }

  private def looksLikeEscape(s: String, i: Int): Boolean =
    i + 6 < s.length && s.charAt(i + 1) == 'x' && s.charAt(i + 6) == '_' &&
      (i + 2 until i + 6).forall(j => Character.digit(s.charAt(j), 16) >= 0)

  private val DaysTo1970 = 25569L // 1899-12-30 → 1970-01-01

  /** Write rows [firstId, firstId + rows) of `table` to `file`; returns their
    * checksum. */
  def write(file: File, table: Table, seed: Long, firstId: Long, rows: Int,
      sharedStrings: Boolean): Checksum = {
    val sum = new Checksum(table.schema)
    val letters = table.cols.indices.map(colLetters).toArray
    val sst = mutable.LinkedHashMap.empty[String, Int]
    var sstRefs = 0L
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
    zip.setLevel(Deflater.BEST_SPEED)
    val out: Writer = new OutputStreamWriter(zip, UTF_8)
    def part(name: String, body: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      out.write(body); out.flush()
      zip.closeEntry()
    }
    try {
      part("[Content_Types].xml", contentTypes(sharedStrings))
      part("_rels/.rels", RootRels)
      part("xl/workbook.xml", WorkbookXml)
      part("xl/_rels/workbook.xml.rels", workbookRels(sharedStrings))
      part("xl/styles.xml", styles(customDateFormats = sharedStrings))

      zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      val sb = new java.lang.StringBuilder(1 << 16)
      sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
        .append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
        .append("<dimension ref=\"A1:").append(letters.last).append(rows + 1).append("\"/>")
        .append("<sheetData>")
      def ref(col: Int, rowNum: Int): java.lang.StringBuilder =
        sb.append("<c r=\"").append(letters(col)).append(rowNum).append('"')
      def str(col: Int, rowNum: Int, s: String): Unit =
        if (sharedStrings) {
          val idx = sst.getOrElseUpdate(s, sst.size)
          sstRefs += 1
          ref(col, rowNum).append(" t=\"s\"><v>").append(idx).append("</v></c>")
        } else {
          ref(col, rowNum).append(" t=\"inlineStr\"><is><t xml:space=\"preserve\">")
          escape(s, sb)
          sb.append("</t></is></c>")
        }
      def num(col: Int, rowNum: Int, style: Int, v: String): Unit = {
        ref(col, rowNum)
        if (style > 0) sb.append(" s=\"").append(style).append('"')
        sb.append("><v>").append(v).append("</v></c>")
      }
      sb.append("<row r=\"1\">")
      table.cols.indices.foreach(i => str(i, 1, table.cols(i).name))
      sb.append("</row>")
      var k = 0
      while (k < rows) {
        val rowNum = k + 2
        val values = table.row(seed, firstId + k)
        sum.add(values)
        sb.append("<row r=\"").append(rowNum).append("\">")
        var i = 0
        while (i < values.length) {
          values(i) match {
            case null => ()
            case s: String => str(i, rowNum, s)
            case n: Integer => num(i, rowNum, 0, n.toString)
            case d: java.lang.Double => num(i, rowNum, 0, d.toString)
            case b: java.lang.Boolean =>
              ref(i, rowNum).append(" t=\"b\"><v>").append(if (b) '1' else '0').append("</v></c>")
            case d: LocalDate => num(i, rowNum, 1, (d.toEpochDay + DaysTo1970).toString)
            case t: LocalDateTime =>
              val serial = t.toLocalDate.toEpochDay + DaysTo1970 +
                t.toLocalTime.toSecondOfDay / 86400.0
              num(i, rowNum, 2, java.lang.Double.toString(serial))
            case other => throw new IllegalStateException(s"unexpected value $other")
          }
          i += 1
        }
        sb.append("</row>")
        if (sb.length > (1 << 16)) { out.append(sb); sb.setLength(0) }
        k += 1
      }
      sb.append("</sheetData></worksheet>")
      out.append(sb); out.flush()
      zip.closeEntry()

      if (sharedStrings) {
        zip.putNextEntry(new ZipEntry("xl/sharedStrings.xml"))
        sb.setLength(0)
        sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
          .append("<sst xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\" count=\"")
          .append(sstRefs).append("\" uniqueCount=\"").append(sst.size).append("\">")
        sst.keysIterator.foreach { s =>
          sb.append("<si><t xml:space=\"preserve\">")
          escape(s, sb)
          sb.append("</t></si>")
          if (sb.length > (1 << 16)) { out.append(sb); sb.setLength(0) }
        }
        sb.append("</sst>")
        out.append(sb); out.flush()
        zip.closeEntry()
      }
    } finally zip.close()
    sum
  }

  private val Ns = "http://schemas.openxmlformats.org"

  private def contentTypes(sst: Boolean): String =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Types xmlns="$Ns/package/2006/content-types">
       |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
       |<Default Extension="xml" ContentType="application/xml"/>
       |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
       |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
       |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
       |${if (sst) """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" else ""}
       |</Types>""".stripMargin

  private val RootRels =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Relationships xmlns="$Ns/package/2006/relationships">
       |<Relationship Id="rId1" Type="$Ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
       |</Relationships>""".stripMargin

  private val WorkbookXml =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<workbook xmlns="$Ns/spreadsheetml/2006/main" xmlns:r="$Ns/officeDocument/2006/relationships">
       |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
       |</workbook>""".stripMargin

  private def workbookRels(sst: Boolean): String =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Relationships xmlns="$Ns/package/2006/relationships">
       |<Relationship Id="rId1" Type="$Ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
       |<Relationship Id="rId2" Type="$Ns/officeDocument/2006/relationships/styles" Target="styles.xml"/>
       |${if (sst) s"""<Relationship Id="rId3" Type="$Ns/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" else ""}
       |</Relationships>""".stripMargin

  /** Style 1 is a date format and style 2 a date-time format: builtin ids
    * 14 and 22, or custom formats 164 and 165 as Excel saves them. */
  private def styles(customDateFormats: Boolean): String = {
    val (fmts, dateId, tsId) =
      if (customDateFormats)
        ("""<numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/><numFmt numFmtId="165" formatCode="yyyy\-mm\-dd\ hh:mm:ss"/></numFmts>""",
          164, 165)
      else ("", 14, 22)
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<styleSheet xmlns="$Ns/spreadsheetml/2006/main">$fmts
       |<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>
       |<fills count="1"><fill><patternFill patternType="none"/></fill></fills>
       |<borders count="1"><border/></borders>
       |<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>
       |<cellXfs count="3">
       |<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>
       |<xf numFmtId="$dateId" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
       |<xf numFmtId="$tsId" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
       |</cellXfs>
       |</styleSheet>""".stripMargin
  }
}
