package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine packages read no environment variable or system property:
  * their behaviour is fixed by code and by arguments, never by a knob a
  * caller cannot see. Deployment settings (master, warehouse dir, class
  * path) and the CLI mains live outside these packages and stay allowed. */
class EngineKnobSpec extends AnyFunSuite {
  private val enginePackages = Seq("core", "ops", "functions", "wrangling",
    "streaming", "gql", "fx", "sources", "queries", "analytics")
  private val knobRead =
    """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r

  private def scalaFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no engine package reads an environment variable or system property") {
    val hits = enginePackages.flatMap { pkg =>
      val dir = Paths.get("src/main/scala/graft", pkg)
      val files = scalaFiles(dir)
      assert(files.nonEmpty, s"$dir holds no Scala files; is the path stale?")
      files.flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if knobRead.findFirstIn(line).nonEmpty =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }
    }
    assert(hits.isEmpty,
      s"engine code reads a behaviour knob:\n${hits.mkString("\n")}")
  }
}
