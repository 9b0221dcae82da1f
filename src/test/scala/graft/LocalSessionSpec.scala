package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[LocalSession]], so the
  * core count, partitions and confs are set in one place. Reads the
  * sources: a second `SparkSession.builder` in `src/main`, or a tool
  * that hard-codes a `local[N]` master, fails here. */
class LocalSessionSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def hits(files: Seq[Path], pattern: String): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if pattern.r.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}"

  test("SparkSession.builder only in LocalSession; no local[N] master in graft/tools") {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val builders = hits(files.filterNot(_.endsWith("graft/LocalSession.scala")),
      """SparkSession\s*\.\s*builder""")
    val masters = hits(files.filter(_.startsWith(root.resolve("graft/tools"))),
      """local\[\d+\]""")
    assert(builders.isEmpty && masters.isEmpty,
      s"${builders.size} sessions built outside LocalSession: $builders; " +
        s"${masters.size} hard-coded masters in a tool: $masters")
  }
}
