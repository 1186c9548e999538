package graft.sources.excel

import org.scalatest.funsuite.AnyFunSuite

/** Source lint, not a value test: the driver visits many workbooks through
  * one bounded prober, [[ExcelFiles.probeAll]]. A thread pool built, or a
  * future awaited, anywhere else in `src/main` would be a second prober,
  * with its own bound and its own answer to a fatal error in a probe. */
class ProbePoolLintSpec extends AnyFunSuite {

  private val mainRoot = java.nio.file.Paths.get("src/main")

  private def mainFiles(): Seq[java.nio.file.Path] = {
    val it = java.nio.file.Files.walk(mainRoot)
    try {
      val b = Seq.newBuilder[java.nio.file.Path]
      it.forEach(p => if (p.toString.endsWith(".scala")) b += p)
      b.result()
    } finally it.close()
  }

  // a pool built through the JDK or Scala, or an unbounded wait on a future
  private val Site =
    """\bExecutors\s*\.|new\s+(Scheduled)?ThreadPoolExecutor\b|ExecutionContext\s*\.\s*from|Await\s*\.\s*result\b|Duration\s*\.\s*Inf\b""".r

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  test("thread pools and future waits appear only inside ExcelFiles.probeAll") {
    assert(java.nio.file.Files.isDirectory(mainRoot), mainRoot.toAbsolutePath)
    val sites = for {
      f <- mainFiles()
      lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split("\n", -1)
      i <- lines.indices if Site.findFirstIn(code(lines(i))).isDefined
    } yield {
      val enclosing = lines.take(i + 1).reverse.map(_.trim).find(_.startsWith("def "))
      (f.getFileName.toString, i + 1, enclosing.getOrElse(""))
    }
    assert(sites.nonEmpty, "the prober's own pool was not found")
    val outside = sites.filterNot { case (file, _, enclosing) =>
      file == "ExcelFiles.scala" && enclosing.startsWith("def probeAll[")
    }
    assert(outside.isEmpty, s"outside the prober: ${outside.mkString("; ")}")
  }
}
