package graft.sources.excel

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, FileInputStream, FileOutputStream}
import java.time.{LocalDate, LocalDateTime}
import java.util.zip.{ZipFile, ZipInputStream}

import org.scalacheck.{Gen, Prop, Properties}

/** SURVEY §5: property-based round-trip — write→read ≡ identity over random
  * schemas and values within the six-type system. Runs under sbt's native
  * ScalaCheck support. */
object XlsxRoundTripProps extends Properties("xlsx.roundtrip") {

  private val genString: Gen[Any] = Gen.chooseNum(0, 30).flatMap { n =>
    // printable unicode incl. CJK + controls we support (\t \n \r)
    Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(' ', '~'),
      2 -> Gen.oneOf('中', '文', 'é', 'ß', 'λ', 'Ж'),
      1 -> Gen.oneOf('\t', '\n', '\r'),
      1 -> Gen.oneOf('<', '>', '&', '"', '\''))).map(_.mkString)
  }
  private val genLong: Gen[Any] = Gen.chooseNum(-1000000000000L, 1000000000000L)
  private val genDouble: Gen[Any] =
    Gen.chooseNum(-1e9, 1e9).map(d => java.lang.Double.valueOf(d))
  private val genBool: Gen[Any] = Gen.oneOf(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE)
  private val genDate: Gen[Any] =
    Gen.chooseNum(0L, 73000L).map(d => LocalDate.of(1900, 1, 1).plusDays(d))
  private val genDateTime: Gen[Any] = for {
    d <- Gen.chooseNum(0L, 73000L)
    ms <- Gen.chooseNum(0L, 86399999L) // millisecond precision (codec floor)
  } yield LocalDate.of(1900, 1, 1).plusDays(d).atStartOfDay.plusNanos(ms * 1000000L)

  private val colGens: Gen[Gen[Any]] =
    Gen.oneOf(genString, genLong, genDouble, genBool, genDate, genDateTime)

  private def nullable(g: Gen[Any]): Gen[Any] =
    Gen.frequency(9 -> g, 1 -> Gen.const(null))

  private val genTable: Gen[Seq[Seq[Any]]] = for {
    nCols <- Gen.chooseNum(1, 6)
    cols <- Gen.listOfN(nCols, colGens)
    nRows <- Gen.chooseNum(0, 40)
    rows <- Gen.listOfN(nRows, Gen.sequence[Seq[Any], Any](cols.map(nullable)))
  } yield rows

  /** What the reader should yield for a written value. */
  private def expected(v: Any): Any = v match {
    case null => null
    case l: java.lang.Long => l.doubleValue() // numerics read back as Double
    case other => other
  }

  property("write-read identity") = Prop.forAll(genTable) { rows =>
    val f = File.createTempFile("graft-prop", ".xlsx")
    try {
      val w = new XlsxWriter(new FileOutputStream(f))
      rows.foreach(w.writeRow)
      w.close()
      val r = new XlsxReader(f)
      val got = try SheetScannerProps.checked(r, r.sheets.head) finally r.close()

      val want = rows.map(_.map(expected))
      // trailing nulls are sparse (absent); compare padded
      got.size == want.size && got.zip(want).forall { case (g, w) =>
        val padded = g.padTo(w.length, null).toSeq
        padded == w
      }
    } finally f.delete()
  }

  // ------------------------------------------------------- multi-sheet
  // Random Excel-VALID sheet names (1-31 chars, none of : \ / ? * [ ],
  // no edge apostrophe, case-insensitively distinct — the rules the
  // writer enforces) with independent row sets per sheet: the workbook
  // must read back sheet-for-sheet, row-for-row, in creation order.
  private val genSheetName: Gen[String] = for {
    n <- Gen.chooseNum(1, 31)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('-', '_', '.', ' '),
      1 -> Gen.oneOf('é', '中', '&', '<', '"')))
  } yield cs.mkString

  private val genWorkbook: Gen[Seq[(String, Seq[Seq[Any]])]] = for {
    k <- Gen.chooseNum(1, 4)
    rawNames <- Gen.listOfN(k, genSheetName)
    tables <- Gen.listOfN(k, for {
      nRows <- Gen.chooseNum(0, 10)
      rows <- Gen.listOfN(nRows, Gen.listOfN(3, nullable(genString)))
    } yield rows)
  } yield {
    // keep first of any case-insensitive name collision (writer rejects dups)
    val seen = scala.collection.mutable.HashSet.empty[String]
    rawNames.zip(tables).filter { case (n, _) =>
      seen.add(n.toLowerCase(java.util.Locale.ROOT)) }
  }

  property("multi-sheet write-read identity") = Prop.forAll(genWorkbook) { sheets =>
    val f = File.createTempFile("graft-prop-ms", ".xlsx")
    try {
      val w = new XlsxWriter(new FileOutputStream(f), sheets.head._1)
      sheets.head._2.foreach(w.writeRow)
      sheets.tail.foreach { case (name, rows) =>
        w.startSheet(name)
        rows.foreach(w.writeRow)
      }
      w.close()
      val r = new XlsxReader(f)
      try {
        r.sheets.map(_.name) == sheets.map(_._1) &&
          r.sheets.zip(sheets).forall { case (sh, (_, rows)) =>
            val got = SheetScannerProps.checked(r, sh)
            val want = rows.map(_.map(expected))
            got.size == want.size && got.zip(want).forall { case (g, ww) =>
              g.padTo(ww.length, null).toSeq == ww
            }
          }
      } finally r.close()
    } finally f.delete()
  }

  // ------------------------------------------------------------- splice
  // The driver's merge: rows cut into segments (some empty), each
  // deflated on its own by XlsxRowSegment, then copied into one workbook
  // with appendSegment. It must read back as one XlsxWriter over the
  // same rows would, and every entry must pass the JDK's CRC and size
  // checks (ZipInputStream verifies both per entry) as well as ZipFile.

  private def genCuts(n: Int): Gen[Seq[Int]] =
    Gen.chooseNum(0, 5).flatMap(k => Gen.listOfN(k, Gen.chooseNum(0, n)))
      .map(_.sorted)

  /** `sheets` of (name, rows, cuts); the first row of a sheet, when
    * present, is written directly (as the driver writes a header). */
  private def splice(f: File, sheets: Seq[(String, Seq[Seq[Any]], Seq[Int])]): Unit = {
    val w = new XlsxWriter(new FileOutputStream(f), sheets.head._1)
    sheets.zipWithIndex.foreach { case ((name, rows, cuts), i) =>
      if (i > 0) w.startSheet(name)
      rows.take(1).foreach(w.writeRow)
      val body = rows.drop(1)
      (0 +: cuts.map(math.min(_, body.length)) :+ body.length).sliding(2)
        .foreach { case Seq(from, to) =>
          val buf = new ByteArrayOutputStream
          val seg = new XlsxRowSegment(buf, name)
          body.slice(from, to).foreach(seg.writeRow)
          val stats = seg.close()
          w.appendSegment(new ByteArrayInputStream(buf.toByteArray), stats)
        }
    }
    w.close()
  }

  private def readAll(f: File): Seq[(String, Vector[Seq[Any]])] = {
    val r = new XlsxReader(f)
    try r.sheets.map(sh => sh.name -> SheetScannerProps.checked(r, sh).map(_.toSeq))
    finally r.close()
  }

  private def zipChecksPass(f: File): Boolean = {
    val zin = new ZipInputStream(new FileInputStream(f))
    val entries = try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map { e => zin.readAllBytes(); e.getName }.toVector
    finally zin.close()
    val zf = new ZipFile(f)
    try entries.nonEmpty && entries.forall(n =>
      zf.getInputStream(zf.getEntry(n)).readAllBytes().length == zf.getEntry(n).getSize)
    finally zf.close()
  }

  private def splicedEqualsWhole(sheets: Seq[(String, Seq[Seq[Any]], Seq[Int])]): Boolean = {
    val whole = File.createTempFile("graft-prop-whole", ".xlsx")
    val cut = File.createTempFile("graft-prop-splice", ".xlsx")
    try {
      val w = new XlsxWriter(new FileOutputStream(whole), sheets.head._1)
      sheets.zipWithIndex.foreach { case ((name, rows, _), i) =>
        if (i > 0) w.startSheet(name)
        rows.foreach(w.writeRow)
      }
      w.close()
      splice(cut, sheets)
      zipChecksPass(cut) && readAll(cut) == readAll(whole)
    } finally { whole.delete(); cut.delete() }
  }

  property("splice == one writer (single sheet)") = Prop.forAll(
    genTable.flatMap(rows => genCuts(rows.length).map(c => (rows, c)))) {
    case (rows, cuts) => splicedEqualsWhole(Seq(("Sheet1", rows, cuts)))
  }

  property("splice == one writer (multi-sheet)") = Prop.forAll(
    genWorkbook.flatMap(sheets => Gen.sequence[Seq[Seq[Int]], Seq[Int]](
      sheets.map(s => genCuts(s._2.length))).map(cs =>
      sheets.zip(cs).map { case ((n, rows), c) => (n, rows, c) }))) {
    sheets => splicedEqualsWhole(sheets)
  }
}
