package graft.sources.excel

import org.scalatest.funsuite.AnyFunSuite

/** Source lint, not a value test: the scan takes a sheet's bytes to
  * Spark's row through typed cell readers, and inference folds them into
  * column types. A `GenericInternalRow` or the boxed
  * `ExcelSchema.convert` on the scan path, a `UTF8String.fromString` or a
  * boxed `Double`/`Integer`/`Long` in its per-cell code, or a decoded
  * string, a boxed value or a `java.time` value in inference's per-cell
  * code would bring back the per-cell detours those paths removed.
  *
  * The scan path is `ExcelScan.scala` from `ExcelPartitionReader` through
  * `TypedCells`, and all of `XlsxReader.scala` but the boxed adapter,
  * `BoxedCells`, which the header row and `rowIterator` read through and
  * which is exempt by name. Its per-cell code is `TypedCells` and the same
  * part of `XlsxReader.scala` (the `RowScan` loop and the cell text
  * primitives). `ExcelPartitionReader`'s own code runs once a partition
  * (the two constant columns are made there with `UTF8String.fromString`)
  * or hands each row on from `TypedCells`, so the boxing rule leaves it
  * out. Inference's per-cell code is `ExcelSchema.scala` from the typed
  * `ColumnType` through its sink, `SampleCells`: it opens no shared
  * string, unescapes and decodes no text, and makes no boxed or
  * `java.time` value. */
class ReadPathLintSpec extends AnyFunSuite {

  private val dir = java.nio.file.Paths.get("src/main/scala/graft/sources/excel")

  private def lines(file: String): IndexedSeq[String] = {
    val f = dir.resolve(file)
    assert(java.nio.file.Files.isRegularFile(f), f.toAbsolutePath)
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split("\n", -1).toIndexedSeq
  }

  /** Line numbers (0-based) from the line starting a top-level
    * declaration that contains `from` up to the line before the next
    * top-level line containing `until`, or the file's end. */
  private def region(ls: IndexedSeq[String], from: String, until: String): Range = {
    val start = ls.indexWhere(l => !l.startsWith(" ") && l.contains(from))
    assert(start >= 0, s"no top-level '$from'")
    val end = ls.indexWhere(l => !l.startsWith(" ") && l.contains(until), start + 1)
    start until (if (end < 0) ls.length else end)
  }

  /** The scan path and its per-cell code: (file, lines, line numbers). */
  private def regions: (Seq[(String, IndexedSeq[String], Seq[Int])],
      Seq[(String, IndexedSeq[String], Seq[Int])]) = {
    val scan = lines("ExcelScan.scala")
    val reader = lines("XlsxReader.scala")
    val boxed = region(reader, "class BoxedCells", "class ")
    assert(boxed.length > 1)
    val readerPath = ("XlsxReader.scala", reader, reader.indices.filterNot(boxed.contains))
    (Seq(("ExcelScan.scala", scan,
        region(scan, "class ExcelPartitionReader", "object ExcelScanMetrics")), readerPath),
      Seq(("ExcelScan.scala", scan, region(scan, "class TypedCells", "object TypedCells")),
        readerPath))
  }

  /** Inference's per-cell code: `ExcelSchema.scala` from the typed
    * `ColumnType` to the file's end, where its sink `SampleCells` is. */
  private def inference: (String, IndexedSeq[String], Seq[Int]) = {
    val schema = lines("ExcelSchema.scala")
    val start = schema.indexWhere(l => !l.startsWith(" ") && l.contains("class ColumnType"))
    assert(start >= 0, "no top-level 'class ColumnType'")
    ("ExcelSchema.scala", schema, start until schema.length)
  }

  private val RowSite = """\bGenericInternalRow\b|\bExcelSchema\s*\.\s*convert\b""".r
  private val CellSite = ("""\bUTF8String\s*\.\s*fromString\b|\bDouble\s*\.\s*valueOf\b|""" +
    """\bInteger\s*\.\s*valueOf\b|\bLong\s*\.\s*valueOf\b""").r

  private val InferSite = ("""\bsharedString\b|\bunescapeOoxml\b|\bunescapedUtf8\b|\.\s*utf8\b|""" +
    """\bDouble\s*\.\s*valueOf\b|\bBoolean\s*\.\s*valueOf\b|\bLocalDate\s*\.\s*ofEpochDay\b|""" +
    """\bLocalDateTime\s*\.\s*of\b""").r

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  private def sites(paths: Seq[(String, IndexedSeq[String], Seq[Int])],
      site: scala.util.matching.Regex): Seq[String] = for {
    (name, ls, range) <- paths
    i <- range
    m <- site.findFirstIn(code(ls(i)))
  } yield s"$name:${i + 1} ($m)"

  test("the scan path neither builds generic rows nor boxes cells") {
    val (scanPath, perCell) = regions
    val found = sites(scanPath, RowSite) ++ sites(perCell, CellSite)
    assert(found.isEmpty, s"found: ${found.mkString("; ")}")
  }

  test("inference decodes no string and boxes no value per cell") {
    val found = sites(Seq(inference), InferSite)
    assert(found.isEmpty, s"found: ${found.mkString("; ")}")
  }

  test("the lint sees the scan path and the boxed adapter it exempts") {
    val (scanPath, perCell) = regions
    assert(scanPath.head._3.exists(i => scanPath.head._2(i).contains("class TypedCells")))
    assert(perCell.head._3.exists(i => perCell.head._2(i).contains("def cell(")))
    assert(!perCell.head._3.exists(i => perCell.head._2(i).contains("class ExcelPartitionReader")))
    val reader = lines("XlsxReader.scala")
    val boxed = region(reader, "class BoxedCells", "class ")
    assert(boxed.exists(i => CellSite.findFirstIn(code(reader(i))).nonEmpty),
      "the boxed adapter boxes, so the region exempts what it should")
    assert(boxed.exists(i => InferSite.findFirstIn(code(reader(i))).nonEmpty),
      "the boxed adapter decodes strings, so the inference rule would see one")
    val (_, schema, range) = inference
    Seq("class SampleCells", "def cell(", "def add(").foreach(decl =>
      assert(range.exists(i => schema(i).contains(decl)), s"the inference region holds '$decl'"))
  }
}
