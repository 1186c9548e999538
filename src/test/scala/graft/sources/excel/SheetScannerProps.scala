package graft.sources.excel

import java.io.File
import java.nio.charset.StandardCharsets

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** Differential properties: the byte scanner behind `XlsxReader` reads
  * every sheet exactly as the StAX spec ([[StaxSheetReader]]) does.
  *
  * [[SheetScannerProps.checked]] is the comparison. `XlsxAdversarialProps`
  * and `XlsxRoundTripProps` read every workbook their generators build
  * through it, so each of their generators runs through both readers. The
  * property here adds the spellings neither writer produces: `x:`-prefixed
  * elements, CDATA in `<v>` and `<t>`, comments and processing
  * instructions between cells and inside text, decimal and hex character
  * references, literal CR and CRLF in text, single-quoted attributes with
  * blanks around `=`, `<c/>` and `<row/>`, rows with and without `r`, and
  * UTF-16 parts with a byte-order mark.
  *
  * A second property checks the cold parts (workbook, relationships and
  * styles) against the StAX spec [[StaxWorkbookParts]].
  */
object SheetScannerProps extends Properties("xlsx.scanner") {

  private def show(rows: Seq[Array[Any]]): String =
    rows.map(_.mkString("[", ", ", "]")).mkString("\n")

  private def same(a: Seq[Array[Any]], b: Seq[Array[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      val n = math.max(x.length, y.length)
      x.toSeq.padTo(n, null) == y.toSeq.padTo(n, null)
    }

  private def outcome[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Exception => Left(e) }

  /** Reads `sheet` with the scanner and with the StAX spec and fails
    * unless they agree: the same rows or both an error; the same rows of
    * a random row range; under a random column mask, the spec's values in
    * the masked columns and null elsewhere; the same `lastRowNumber`,
    * with and without the dimension. Returns the scanner's rows. */
  def checked(r: XlsxReader, sheet: XlsxReader.Sheet): Vector[Array[Any]] = {
    val spec = new StaxSheetReader(r)
    val want = outcome(spec.rows(sheet))
    val got = outcome(r.rowIterator(sheet).toVector)
    (want, got) match {
      case (Right(w), Right(g)) =>
        assert(same(g, w), s"scanner:\n${show(g)}\nspec:\n${show(w)}")
      case (Left(_), Left(_)) => ()
      case _ => throw new AssertionError(s"scanner $got but spec $want")
    }
    val rnd = new scala.util.Random(sheet.entry.hashCode ^ want.fold(_ => 0, _.length))
    want.foreach { w =>
      val start = 1 + rnd.nextInt(w.length + 2)
      val end = start + rnd.nextInt(w.length + 2)
      assert(same(r.rowIterator(sheet, start, end).toVector, spec.rows(sheet, start, end)),
        s"rows [$start, $end)")
      val width = if (w.isEmpty) 0 else w.map(_.length).max
      val mask = Array.fill(width + 1)(rnd.nextBoolean())
      val masked = w.map(_.zipWithIndex.map { case (v, i) => if (mask(i)) v else null })
      val gotMasked = r.rowIterator(sheet, 1, Int.MaxValue, mask).toVector
      assert(same(gotMasked, masked),
        s"mask ${mask.mkString(",")}:\nscanner:\n${show(gotMasked)}\nspec:\n${show(masked)}")
      Seq(true, false).foreach { trust =>
        assert(r.lastRowNumber(sheet, trust) == spec.lastRowNumber(sheet, trust),
          s"lastRowNumber(trustDimension = $trust)")
      }
    }
    got.fold(throw _, identity)
  }

  // ---------------------------------------------------------- spellings

  private final case class Spelling(prefix: Boolean, cdata: Boolean,
      charRefs: Boolean, noise: Boolean, singleQuotes: Boolean,
      utf16: Option[Boolean]) // Some(bigEndian)

  private val genSpelling: Gen[Spelling] = for {
    prefix <- Gen.oneOf(false, true)
    cdata <- Gen.oneOf(false, true)
    charRefs <- Gen.oneOf(false, true)
    noise <- Gen.oneOf(false, true)
    singleQuotes <- Gen.oneOf(false, true)
    utf16 <- Gen.oneOf(None, Some(true), Some(false))
  } yield Spelling(prefix, cdata, charRefs, noise, singleQuotes, utf16)

  /** Text pieces: one character, or a literal line end (CR, CRLF, LF). */
  private val genText: Gen[Seq[String]] = Gen.chooseNum(0, 10).flatMap { n =>
    Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose('a', 'z').map(_.toString),
      1 -> Gen.oneOf("&", "<", ">", "\"", "'", " ", "é", "中", "😀"),
      1 -> Gen.oneOf("\r", "\r\n", "\n")))
  }

  private val RelNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  private sealed trait Cell
  private final case class Num(v: Double) extends Cell
  private final case class Inline(text: Seq[String]) extends Cell
  private final case class Cached(text: Seq[String]) extends Cell
  private final case class Shared(text: Seq[String]) extends Cell
  private case object Empty extends Cell

  private val genCell: Gen[Cell] = Gen.frequency(
    3 -> Gen.chooseNum(-1e6, 1e6).map(d => Num(d)),
    2 -> genText.map(Inline(_)),
    1 -> genText.map(Cached(_)),
    2 -> genText.map(Shared(_)),
    1 -> Gen.const(Empty))

  // (cells, whether the row carries r, whether each cell carries r)
  private val genSheet: Gen[Seq[(Seq[Cell], Boolean, Seq[Boolean])]] = for {
    nCols <- Gen.chooseNum(0, 40) // past the reader's 16-slot row buffer
    nRows <- Gen.chooseNum(0, 8)
    rows <- Gen.listOfN(nRows, for {
      cells <- Gen.listOfN(nCols, genCell)
      rowRef <- Gen.oneOf(false, true)
      cellRefs <- Gen.listOfN(nCols, Gen.oneOf(false, true))
    } yield (cells, rowRef, cellRefs))
  } yield rows

  private final class Render(sp: Spelling, rnd: scala.util.Random) {
    val sb = new StringBuilder

    def name(n: String): String = if (sp.prefix) s"x:$n" else n

    def attr(n: String, v: String): String =
      if (sp.singleQuotes) s" $n = '$v'" else s""" $n="$v""""

    def noise(): Unit =
      if (sp.noise) sb.append(if (rnd.nextBoolean()) "<!-- note > -->" else "<?pi data?>")

    /** Writes `pieces` as element text; returns the value it reads as. */
    def text(pieces: Seq[String]): String = {
      val value = new StringBuilder
      val literal = new StringBuilder // since the last reference or comment
      def flush(): Unit = {
        value.append(literal.toString.replace("\r\n", "\n").replace('\r', '\n'))
        literal.clear()
      }
      val cdata = sp.cdata && rnd.nextBoolean()
      if (cdata) sb.append("<![CDATA[")
      pieces.foreach { p =>
        if (!cdata && sp.charRefs && p.length == 1 && rnd.nextBoolean()) {
          flush()
          sb.append(if (rnd.nextBoolean()) s"&#${p.charAt(0).toInt};"
            else s"&#x${Integer.toHexString(p.charAt(0).toInt)};")
          value.append(p) // a reference is never line-end normalized
        } else {
          sb.append(if (cdata) p else if (p == "&") "&amp;" else if (p == "<") "&lt;" else p)
          literal.append(p)
        }
        if (!cdata && sp.noise && rnd.nextInt(8) == 0) { flush(); noise() }
      }
      if (cdata) sb.append("]]>")
      flush()
      value.toString
    }

    /** `pieces` spelled as an attribute value between this rendering's
      * quotes: `&` and `<` escaped, a quote as `&quot;` or `&apos;` where
      * it must be and sometimes where it need not be, and single
      * characters sometimes as character references. */
    def attrText(pieces: Seq[String]): String = pieces.map {
      case "&" => "&amp;"
      case "<" => "&lt;"
      case "\"" if !sp.singleQuotes || rnd.nextBoolean() => "&quot;"
      case "'" if sp.singleQuotes || rnd.nextBoolean() => "&apos;"
      case p if sp.charRefs && p.length == 1 && rnd.nextInt(4) == 0 =>
        s"&#x${Integer.toHexString(p.charAt(0).toInt)};"
      case p => p
    }.mkString

    def shuffled(a: String, b: String): String = if (rnd.nextBoolean()) a + b else b + a

    def open(n: String, attrs: String = ""): Unit = sb.append(s"<${name(n)}$attrs>")
    def close(n: String): Unit = sb.append(s"</${name(n)}>")
    def leaf(n: String, attrs: String = ""): Unit = sb.append(s"<${name(n)}$attrs/>")

    def textElement(n: String, pieces: Seq[String]): String = {
      open(n, if (rnd.nextBoolean()) attr("xml:space", "preserve") else "")
      val value = text(pieces)
      close(n)
      value
    }

    def root(n: String, body: => Unit): Array[Byte] = {
      val decl = sp.utf16.fold("UTF-8")(_ => "UTF-16")
      sb.append(s"""<?xml version="1.0" encoding="$decl"?>""")
      val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
      sb.append(s"<${name(n)}${attr(if (sp.prefix) "xmlns:x" else "xmlns", ns)}" +
        s"${attr("xmlns:r", RelNs)}>")
      body
      close(n)
      sp.utf16 match {
        case None => sb.toString.getBytes(StandardCharsets.UTF_8)
        case Some(true) => sb.toString.getBytes(StandardCharsets.UTF_16) // BE + BOM
        case Some(false) =>
          Array(0xff.toByte, 0xfe.toByte) ++ sb.toString.getBytes(StandardCharsets.UTF_16LE)
      }
    }
  }

  property("scanner == StAX spec on spellings no writer of ours produces") =
    Prop.forAll(genSpelling, genSheet, Gen.long) { (sp, rows, seed) =>
      val rnd = new scala.util.Random(seed)
      val pool = rows.flatMap(_._1).collect { case Shared(t) => t }.distinct
      val sst = new Render(sp, rnd)
      val poolValues = scala.collection.mutable.ArrayBuffer.empty[String]
      val sstXml = sst.root("sst", pool.foreach { t =>
        sst.open("si")
        poolValues += sst.textElement("t", t)
        sst.close("si")
      })
      val poolIdx = pool.zipWithIndex.toMap
      val want = Vector.newBuilder[Array[Any]]
      val sheet = new Render(sp, rnd)
      val sheetXml = sheet.root("worksheet", {
        sheet.open("sheetData")
        rows.zipWithIndex.foreach { case ((cells, rowRef, cellRefs), i) =>
          val rAttr = if (rowRef) sheet.attr("r", (i + 1).toString) else ""
          if (cells.forall(_ == Empty) && rnd.nextBoolean()) {
            sheet.leaf("row", rAttr)
            want += Array.empty[Any]
          } else {
            sheet.open("row", rAttr)
            want += cells.zip(cellRefs).zipWithIndex.map { case ((cell, ref), j) =>
              sheet.noise()
              val r = if (ref) sheet.attr("r", s"${XlsxWriter.colName(j)}${i + 1}") else ""
              cell match {
                case Empty => sheet.leaf("c", r); null
                case Num(v) =>
                  sheet.open("c", r)
                  sheet.open("v")
                  val value = sheet.text(v.toString.map(_.toString))
                  sheet.close("v")
                  sheet.close("c")
                  java.lang.Double.valueOf(value)
                case Inline(t) =>
                  sheet.open("c", sheet.shuffled(r, sheet.attr("t", "inlineStr")))
                  sheet.open("is")
                  val value = sheet.textElement("t", t)
                  sheet.close("is")
                  sheet.close("c")
                  value
                case Cached(t) =>
                  sheet.open("c", sheet.shuffled(r, sheet.attr("t", "str")))
                  sheet.open("f")
                  sheet.sb.append("CONCAT(&quot;x&quot;)")
                  sheet.close("f")
                  val value = sheet.textElement("v", t)
                  sheet.close("c")
                  value
                case Shared(t) =>
                  sheet.open("c", sheet.shuffled(r, sheet.attr("t", "s")))
                  sheet.open("v")
                  sheet.text(poolIdx(t).toString.map(_.toString))
                  sheet.close("v")
                  sheet.close("c")
                  poolValues(poolIdx(t))
              }
            }.toArray[Any]
            sheet.close("row")
          }
        }
        sheet.close("sheetData")
      })
      val f = XlsxAdversarialProps.zipFile(Seq(XlsxAdversarialProps.workbookXml(),
        "xl/worksheets/sheet1.xml" -> sheetXml, XlsxReader.SharedStringsPart -> sstXml))
      val r = new XlsxReader(f)
      try same(checked(r, r.sheets.head), want.result())
      finally { r.close(); f.delete() }
    }

  // ---------------------------------------------------------- cold parts

  /** Attribute text: characters the markup must escape, blanks that
    * normalize to a space, and non-ASCII. */
  private val genAttrText: Gen[Seq[String]] = Gen.chooseNum(0, 8).flatMap { n =>
    Gen.listOfN(n, Gen.frequency(
      6 -> Gen.choose('a', 'z').map(_.toString),
      2 -> Gen.oneOf("&", "<", ">", "\"", "'", " ", "é", "中", "😀"),
      1 -> Gen.oneOf("\t", "\n", "\r\n")))
  }

  private val genFormatCode: Gen[Seq[String]] = Gen.chooseNum(0, 6).flatMap { n =>
    Gen.listOfN(n, Gen.oneOf("yyyy", "mm", "d", "h", ":", "ss", "0.00", "#,##0", "@",
      "\"", "&", "[Red]", "[h]", "[>100]", "\\", "AM/PM", " ", "é"))
  }

  /** A sheet entry: its name (None: no `name`), its relationship (None:
    * no id; an index past the relationships: a dangling id) and whether
    * the id is spelled `r:id` rather than `id`. */
  private final case class BookSheet(name: Option[Seq[String]], rel: Option[Int],
      prefixedId: Boolean)

  /** A relationship's target: absolute or relative, None when absent. */
  private final case class Rel(target: Option[(Boolean, Seq[String])])

  /** `numFmtId`s: None leaves the attribute out. */
  private final case class Styles(fmts: Seq[(Int, Seq[String])],
      cellXfs: Option[Seq[(Option[Int], Boolean)]], // None: `<cellXfs/>`; (id, has a child)
      styleXfs: Seq[Option[Int]], styleXfsFirst: Boolean, dxfFmt: Option[(Int, Seq[String])])

  private final case class Book(workbookPr: Option[Option[String]],
      sheets: Seq[BookSheet], rels: Option[Seq[Rel]], styles: Option[Styles])

  private val genFmtId: Gen[Int] = Gen.oneOf(Gen.chooseNum(0, 60), Gen.chooseNum(164, 170))

  private val genBook: Gen[Book] = for {
    workbookPr <- Gen.option(Gen.option(Gen.oneOf("1", "0", "true", "TRUE", "false", " 1")))
    nRels <- Gen.chooseNum(0, 5)
    rels <- Gen.option(Gen.listOfN(nRels, Gen.option(for {
      absolute <- Gen.oneOf(false, true)
      text <- genAttrText
    } yield (absolute, text)).map(Rel(_))))
    nSheets <- Gen.chooseNum(0, 5)
    sheets <- Gen.listOfN(nSheets, for {
      name <- Gen.frequency(6 -> genAttrText.map(Some(_)), 1 -> Gen.const(None))
      rel <- Gen.option(Gen.chooseNum(0, nRels))
      prefixed <- Gen.oneOf(false, true)
    } yield BookSheet(name, rel, prefixed))
    styles <- Gen.option(for {
      nFmts <- Gen.chooseNum(0, 4)
      fmts <- Gen.listOfN(nFmts, Gen.zip(genFmtId, genFormatCode))
      nXfs <- Gen.chooseNum(0, 6)
      cellXfs <- Gen.option(Gen.listOfN(nXfs,
        Gen.zip(Gen.option(genFmtId), Gen.oneOf(false, true))))
      nStyleXfs <- Gen.chooseNum(0, 3)
      styleXfs <- Gen.listOfN(nStyleXfs, Gen.option(genFmtId))
      styleXfsFirst <- Gen.oneOf(false, true)
      dxfFmt <- Gen.option(Gen.zip(genFmtId, genFormatCode))
    } yield Styles(fmts, cellXfs, styleXfs, styleXfsFirst, dxfFmt))
  } yield Book(workbookPr, sheets, rels, styles)

  private def renderBook(sp: Spelling, book: Book, rnd: scala.util.Random)
      : Seq[(String, Array[Byte])] = {
    val workbook = new Render(sp, rnd)
    val workbookXml = workbook.root("workbook", {
      workbook.noise()
      book.workbookPr.foreach(v =>
        workbook.leaf("workbookPr", v.fold("")(workbook.attr("date1904", _))))
      workbook.open("sheets")
      book.sheets.zipWithIndex.foreach { case (sh, i) =>
        workbook.noise()
        val name = sh.name.fold("")(t => workbook.attr("name", workbook.attrText(t)))
        val id = sh.rel.fold("")(k =>
          workbook.attr(if (sh.prefixedId) "r:id" else "id", s"rId$k"))
        val attrs = workbook.shuffled(name, workbook.attr("sheetId", (i + 1).toString) + id)
        if (rnd.nextBoolean()) workbook.leaf("sheet", attrs)
        else { workbook.open("sheet", attrs); workbook.close("sheet") }
      }
      workbook.close("sheets")
    })
    val rels = book.rels.map { rs =>
      val r = new Render(sp, rnd)
      "xl/_rels/workbook.xml.rels" -> r.root("Relationships", rs.zipWithIndex.foreach {
        case (rel, k) =>
          r.noise()
          val target = rel.target.fold("") { case (absolute, text) =>
            r.attr("Target", (if (absolute) "/xl/worksheets/" else "worksheets/") +
              r.attrText(text) + ".xml")
          }
          r.leaf("Relationship", r.shuffled(r.attr("Id", s"rId$k"), target))
      })
    }
    val styles = book.styles.map { st =>
      val r = new Render(sp, rnd)
      def fmtId(id: Option[Int]): String = id.fold("")(i => r.attr("numFmtId", i.toString))
      def numFmt(id: Int, code: Seq[String]): Unit =
        r.leaf("numFmt", r.shuffled(fmtId(Some(id)), r.attr("formatCode", r.attrText(code))))
      def styleXfs(): Unit = {
        r.open("cellStyleXfs")
        st.styleXfs.foreach(id => r.leaf("xf", fmtId(id)))
        r.close("cellStyleXfs")
      }
      "xl/styles.xml" -> r.root("styleSheet", {
        r.open("numFmts", r.attr("count", st.fmts.length.toString))
        st.fmts.foreach { case (id, code) => r.noise(); numFmt(id, code) }
        r.close("numFmts")
        if (st.styleXfsFirst) styleXfs()
        st.cellXfs match {
          case None => r.leaf("cellXfs", r.attr("count", "0"))
          case Some(xfs) =>
            r.open("cellXfs")
            xfs.foreach { case (id, child) =>
              r.noise()
              if (!child) r.leaf("xf", fmtId(id))
              else {
                r.open("xf", fmtId(id))
                r.leaf("alignment", r.attr("horizontal", "left"))
                r.close("xf")
              }
            }
            r.close("cellXfs")
        }
        if (!st.styleXfsFirst) styleXfs()
        st.dxfFmt.foreach { case (id, code) =>
          r.open("dxfs"); r.open("dxf"); numFmt(id, code); r.close("dxf"); r.close("dxfs")
        }
      })
    }
    Seq("xl/workbook.xml" -> workbookXml) ++ rels ++ styles
  }

  property("cold parts: scanner == StAX spec") =
    Prop.forAll(genSpelling, genBook, Gen.long) { (sp, book, seed) =>
      val parts = renderBook(sp, book, new scala.util.Random(seed))
      val f = XlsxAdversarialProps.zipFile(parts)
      try {
        val want = outcome(StaxWorkbookParts.read(f))
        val got = outcome {
          val r = new XlsxReader(f)
          try StaxWorkbookParts.Parts(r.sheets, r.date1904, r.styleKinds) finally r.close()
        }
        val shown = parts.map { case (n, b) =>
          s"$n: ${new String(b, if (sp.utf16.isDefined) StandardCharsets.UTF_16
            else StandardCharsets.UTF_8)}" }.mkString("\n")
        (got.isRight && got == want && got.toOption.get.sheets.length == book.sheets.length) :|
          s"scanner $got\nspec $want\n$shown"
      } finally f.delete()
    }
}
