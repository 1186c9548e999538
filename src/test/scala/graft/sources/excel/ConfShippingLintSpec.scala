package graft.sources.excel

import org.scalatest.funsuite.AnyFunSuite

/** Source lint, not a value test: tasks get the Hadoop conf through one
  * helper, [[ExcelFiles.broadcastConf]]. A `SerializableConfiguration`
  * built anywhere else in `src/main` would most likely sit in a factory
  * field again, where every task decodes the whole session conf. */
class ConfShippingLintSpec extends AnyFunSuite {

  private val mainRoot = java.nio.file.Paths.get("src/main")

  private def mainFiles(): Seq[java.nio.file.Path] = {
    val it = java.nio.file.Files.walk(mainRoot)
    try {
      val b = Seq.newBuilder[java.nio.file.Path]
      it.forEach(p => if (p.toString.endsWith(".scala")) b += p)
      b.result()
    } finally it.close()
  }

  // a construction, Spark's broadcast helper, or a renaming import that
  // would hide either from this lint
  private val Site =
    """new\s+SerializableConfiguration\b|SerializableConfiguration\s*\.\s*broadcast\b|SerializableConfiguration\s*=>""".r

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  test("SerializableConfiguration is built only inside ExcelFiles.broadcastConf") {
    assert(java.nio.file.Files.isDirectory(mainRoot), mainRoot.toAbsolutePath)
    val sites = for {
      f <- mainFiles()
      lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split("\n", -1)
      i <- lines.indices if Site.findFirstIn(code(lines(i))).isDefined
    } yield {
      val enclosing = lines.take(i + 1).reverse.map(_.trim).find(_.startsWith("def "))
      (f.getFileName.toString, i + 1, enclosing.getOrElse(""))
    }
    assert(sites.size == 1, s"expected one site, found: ${sites.mkString("; ")}")
    val (file, line, enclosing) = sites.head
    assert(file == "ExcelFiles.scala" && enclosing.startsWith("def broadcastConf("),
      s"$file:$line is outside the helper ($enclosing)")
  }
}
