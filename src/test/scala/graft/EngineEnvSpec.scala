package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine packages take their settings from arguments and the
  * Spark session, never from the process environment: a setting that
  * only an env var can reach is invisible to the caller, the session
  * config and every recorded artifact. The bench mains, `Verify` and
  * `cli/Main` keep their deployment env vars; they live outside these
  * packages.
  */
class EngineEnvSpec extends AnyFunSuite {
  private val enginePackages =
    Seq("ops", "io", "streaming", "functions", "align", "model")

  test("no engine package reads an environment variable") {
    val root = Paths.get("src/main/scala/graft")
    val sources = enginePackages.flatMap { pkg =>
      val dir = root.resolve(pkg)
      assert(Files.isDirectory(dir), s"$dir missing: run from the repo root")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size >= enginePackages.size, "no engine sources found")
    val envRead = "sys\\.env|System\\.getenv".r
    val hits = for {
      file: Path <- sources
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$file:${no + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("environment reads:\n", "\n", ""))
  }
}
