package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The mains' console lines stay ASCII: launched with plain `java` (no
  * UTF-8 `stdout.encoding`), the JVM prints any other character as `?`,
  * and a captured log loses it. */
class ConsoleTextSpec extends AnyFunSuite {

  /** The argument text of every print call in `src`, up to its closing
    * parenthesis; parentheses inside double-quoted text do not count. */
  private def printArgs(src: String): Seq[String] =
    """\bprint(?:ln|f)?\(""".r.findAllMatchIn(src).map { m =>
      var i = m.end
      var depth = 1
      var quoted = false
      while (depth > 0 && i < src.length) {
        src.charAt(i) match {
          case '\\' if quoted => i += 1
          case '"' => quoted = !quoted
          case '(' if !quoted => depth += 1
          case ')' if !quoted => depth -= 1
          case _ =>
        }
        i += 1
      }
      src.substring(m.start, i)
    }.toSeq

  test("no print call in src/main holds a non-ASCII character") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "source tree not found from the test working directory")
    val calls = files.flatMap(f => printArgs(Files.readString(f)).map(f.getFileName -> _))
    assert(calls.size > 50, s"only ${calls.size} print calls found")
    val bad = calls.filter(_._2.exists(_ > '\u007f'))
    assert(bad.isEmpty, bad.map { case (f, c) => s"$f: $c" }.mkString("\n"))
  }

  test("the scanner sees a non-ASCII literal across lines and inside interpolation") {
    val src = "println(\"a (\" +\n  s\"${f(\"x\")} ×\")\nprintln(\"ok\")"
    val args = printArgs(src)
    assert(args.size == 2 && args(0).contains('×') && args(1) == "println(\"ok\")")
  }
}
