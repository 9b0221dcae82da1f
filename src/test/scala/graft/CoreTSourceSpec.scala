package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CoreT

/** The core-T facts and the scale route are stated once: the core Ts in
  * [[CoreT.table]], the route in [[CoreT.Route]] (built by
  * [[CoreT.route]]) and its bounds in [[EngineConfig]]. Reads the
  * sources: a quoted core-T name on a code line of the search or the
  * Engine, a route parameter declared anywhere else, a literal rank
  * bound outside EngineConfig, or an EngineConfig field that nothing
  * sets fails here. */
class CoreTSourceSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  private def sources: Seq[Path] = scalaFiles(root)

  private def scalaFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  /** The code on a line: empty for a scaladoc or block-comment line,
    * else the text before any `//`. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) "" else line.split("//", 2)(0)
  }

  private def codeLines(f: Path): Seq[String] = Files.readAllLines(f).asScala.toSeq.map(code)

  test("no quoted core-T name on a code line of Recommender or Engine") {
    val quoted = CoreT.table.map(t => "\"" + t.name + "\"")
    val hits = for {
      f <- Seq(root.resolve("plans/Recommender.scala"), root.resolve("Engine.scala"))
      (line, i) <- codeLines(f).zipWithIndex
      name <- quoted if line.contains(name)
    } yield s"$f:${i + 1} $name"
    assert(hits.isEmpty, s"${hits.size} quoted core-T names: $hits")
  }

  test("windowRankMaxRows / embedSampleAbove are declared only in CoreT.Route and EngineConfig") {
    val declared = """\b(windowRankMaxRows|embedSampleAbove)\s*:""".r
    val owner = """\b(?:class|object|trait|def)\s+(\w+)""".r
    val hits = for {
      f <- sources
      lines = codeLines(f)
      (line, i) <- lines.zipWithIndex if declared.findFirstIn(line).isDefined
      // the declaration's owner: the nearest class, object or def above
      enclosing = (i to 0 by -1).iterator
        .flatMap(j => owner.findFirstMatchIn(lines(j)).map(_.group(1))).nextOption()
      if !enclosing.exists(Set("Route", "EngineConfig"))
    } yield s"$f:${i + 1} in ${enclosing.getOrElse("?")}"
    assert(hits.isEmpty, s"${hits.size} route parameters declared outside the route: $hits")
  }

  test("the rank bound's literal default is in EngineConfig only") {
    val literal = """\bwindow\w*MaxRows\s*:\s*Long\s*=\s*\d""".r
    val hits = for {
      f <- sources if !f.endsWith("graft/types.scala")
      (line, i) <- codeLines(f).zipWithIndex if literal.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}"
    assert(hits.isEmpty, s"${hits.size} literal rank bounds outside EngineConfig: $hits")
  }

  test("every EngineConfig field is set by name outside types.scala") {
    // a field only its declaration sets is a constant: it belongs beside
    // its reader, not among the options callers and tests must cover
    val code = (sources ++ scalaFiles(Paths.get("src/test/scala/graft")))
      .filterNot(_.endsWith("graft/types.scala")).flatMap(codeLines).mkString("\n")
    val unset = EngineConfig.default.productElementNames.toSeq
      .filterNot(f => s"\\b$f\\s*=(?![=>])".r.findFirstIn(code).isDefined)
    assert(unset.isEmpty, s"${unset.size} EngineConfig fields nothing sets: $unset")
  }
}
