package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** One session builder and one fan-out primitive: fails when a copy of
  * either comes back anywhere else under `src/main/scala`. */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def offenders(pattern: Regex, home: String): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p).toString)
      .filter(f => f != home && pattern.findFirstIn(Files.readString(root.resolve(f))).isDefined)
    finally files.close()
  }

  test("a SparkSession is built only in repl/Boot.scala") {
    assert(offenders("""SparkSession\s*\.\s*builder""".r, "graft/repl/Boot.scala").isEmpty)
  }

  test("threads are pooled and awaited only in core/Par.scala") {
    assert(offenders("""Duration\.Inf|Await\.result|newFixedThreadPool""".r,
      "graft/core/Par.scala").isEmpty)
  }
}
