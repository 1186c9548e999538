package graft.sources.excel

import org.scalatest.funsuite.AnyFunSuite

/** Source lint, not a value test: the write path takes a Spark row to
  * UTF-8 sheet bytes through typed cell calls. A boxed `Long`/`Double`, a
  * `LocalDate`/`LocalDateTime` made per cell or a UTF-16 → UTF-8
  * `CharsetEncoder` round trip in the sink or the encoder would bring back
  * the per-cell detours that path removed. */
class WritePathLintSpec extends AnyFunSuite {

  private val files = Seq("ExcelWrite.scala", "XlsxWriter.scala")
    .map(f => java.nio.file.Paths.get("src/main/scala/graft/sources/excel", f))

  private val Site =
    """\bCharsetEncoder\b|\bnewEncoder\b|\bofEpochDay\b|\bofInstant\b|\bLong\s*\.\s*valueOf\b|\bDouble\s*\.\s*valueOf\b""".r

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  test("the write path neither boxes numbers, builds java.time values nor re-encodes text") {
    val sites = for {
      f <- files
      _ = assert(java.nio.file.Files.isRegularFile(f), f.toAbsolutePath)
      lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split("\n", -1)
      i <- lines.indices
      m <- Site.findFirstIn(code(lines(i)))
    } yield s"${f.getFileName}:${i + 1} ($m)"
    assert(sites.isEmpty, s"found: ${sites.mkString("; ")}")
  }
}
