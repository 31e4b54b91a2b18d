package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level pins for the one-kernel-path design: ops reach Graft
  * kernels through `Graft.kernel`/`Graft.install`, never a per-call
  * registry probe with a second code path, and `Graft.session` is the one
  * session builder.
  */
class SourceLintSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def hits(roots: Seq[String], needle: String): Seq[String] =
    roots.flatMap(sources).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$p:${i + 1}: ${line.trim}"
      }
    }

  test("no catalog.functionExists fallback branches in src/main") {
    val found = hits(Seq("src/main"), "catalog." + "functionExists(")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("Graft.session in engine/Engine.scala is the only session builder") {
    val found = hits(Seq("src/main", "src/test"), "SparkSession" + ".builder")
      .filterNot(_.startsWith(Paths.get("src/main/scala/graft/engine/Engine.scala").toString + ":"))
    assert(found.isEmpty, found.mkString("\n"))
    assert(hits(Seq("src/main/scala/graft/engine"), "SparkSession" + ".builder").nonEmpty)
  }
}
