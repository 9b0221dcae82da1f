package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[LocalSession]], so the
  * core count, partitions and confs are set in one place, and every
  * session gets the engine's optimizer rule and SQL functions from
  * `graft.functions.GraftExtensions` alone. Reads the sources: a second
  * `SparkSession.builder` in `src/main`, a tool that hard-codes a
  * `local[N]` master, or a per-session setup call fails here. */
class LocalSessionSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private lazy val files = Files.walk(root).iterator().asScala
    .filter(_.toString.endsWith(".scala")).toSeq

  private def hits(files: Seq[Path], pattern: String, skipComments: Boolean = false): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if !(skipComments && """^\s*(\*|//|/\*)""".r.findFirstIn(line).isDefined)
      if pattern.r.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}"

  test("SparkSession.builder only in LocalSession; no local[N] master in graft/tools") {
    assert(files.nonEmpty, s"no sources under $root")
    val builders = hits(files.filterNot(_.endsWith("graft/LocalSession.scala")),
      """SparkSession\s*\.\s*builder""")
    val masters = hits(files.filter(_.startsWith(root.resolve("graft/tools"))),
      """local\[\d+\]""")
    assert(builders.isEmpty && masters.isEmpty,
      s"${builders.size} sessions built outside LocalSession: $builders; " +
        s"${masters.size} hard-coded masters in a tool: $masters")
  }

  test("sessions get the engine's rule and functions only from the ServiceLoader-named GraftExtensions") {
    // code lines only: GraftExtensions' scaladoc says why the conf stays unset
    val setup = hits(files, """extraOptimizations|createOrReplaceTempFunction|spark\.sql\.extensions""",
      skipComments = true)
    assert(setup.isEmpty, s"per-session setup outside GraftExtensions: $setup")
    val services = Paths.get(
      "src/main/resources/META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider")
    assert(Files.readAllLines(services).asScala.map(_.trim) == Seq("graft.functions.GraftExtensions"))
  }
}
