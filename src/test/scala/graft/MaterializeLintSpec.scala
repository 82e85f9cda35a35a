package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: `plans.Materialize` is the only code in src/main that
  * persists, checkpoints or caches a frame, so how an intermediate is
  * held (storage level, eager or lazy fill) is decided by its intent in
  * one place instead of per call site. Call sites name the intent:
  * `.transform(Materialize.truncate)`, `Materialize.share(df)`.
  */
class MaterializeLintSpec extends AnyFunSuite {

  test("persist, checkpoint and cache appear in src/main/scala only in Materialize.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val sources = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val raw = """\.persist\(|localCheckpoint\(|\.checkpoint\(|\.cache\(\)""".r
    val comment = """^\s*(//|\*|/\*)""".r
    val bad = for {
      f <- sources if root.relativize(f).toString != "graft/plans/Materialize.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if comment.findFirstIn(line).isEmpty && raw.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    val files = bad.map(_.takeWhile(_ != ':')).distinct.size
    assert(bad.isEmpty,
      s"${bad.size} raw materialization sites in $files files outside Materialize:\n  " +
        bad.mkString("\n  "))
  }
}
