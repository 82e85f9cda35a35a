package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: `GraftSession.local` is the only code in src/main that
  * builds a session, so Bench, Verify, SfGen and the dev tool all plan
  * and time the same engine config. Hand-built sessions are how dev
  * tools drifted onto plans without AQE or the graft extensions; code
  * that needs a session takes one, and a cluster deployment applies
  * `GraftSession.configure` to its own builder.
  */
class SessionBuilderLintSpec extends AnyFunSuite {

  test("SparkSession.builder() appears in src/main/scala only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val sources = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val bad = for {
      f <- sources if root.relativize(f).toString != "graft/GraftSession.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if builder.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, "sessions built outside GraftSession.local:\n  " + bad.mkString("\n  "))
  }
}
