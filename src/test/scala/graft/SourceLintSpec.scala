package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level pins for the one-path design: ops reach Graft kernels
  * through `Graft.kernel`/`Graft.install`, never a per-call registry probe
  * with a second code path; `Graft.session` is the one session builder;
  * `sources.Parquet.read` is the one parquet read; `proto.ArrowInterchange`
  * is the one Arrow codec; and no catch swallows a fatal error.
  */
class SourceLintSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def hits(roots: Seq[String], needle: String): Seq[String] =
    matches(roots, _.contains(needle))

  private def matches(roots: Seq[String], hit: String => Boolean): Seq[String] =
    roots.flatMap(sources).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if hit(line) => s"$p:${i + 1}: ${line.trim}"
      }
    }

  private def outside(file: String)(found: Seq[String]): Seq[String] =
    found.filterNot(_.startsWith(Paths.get(file).toString + ":"))

  test("no catalog.functionExists fallback branches in src/main") {
    val found = hits(Seq("src/main"), "catalog." + "functionExists(")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("Graft.session in engine/Engine.scala is the only session builder") {
    val found = outside("src/main/scala/graft/engine/Engine.scala")(
      hits(Seq("src/main", "src/test"), "SparkSession" + ".builder"))
    assert(found.isEmpty, found.mkString("\n"))
    assert(hits(Seq("src/main/scala/graft/engine"), "SparkSession" + ".builder").nonEmpty)
  }

  test("sources.Parquet is the only parquet read in src/main") {
    val found = outside("src/main/scala/graft/sources/Parquet.scala")(
      hits(Seq("src/main"), "read." + "parquet("))
    assert(found.isEmpty, found.mkString("\n"))
    assert(hits(Seq("src/main/scala/graft/sources"), "read." + "parquet(").nonEmpty)
  }

  test("no catch of Throwable in src/main") {
    val pattern = ("""case\s+\w+\s*:\s*""" + "Throwable").r
    val found = matches(Seq("src/main"), pattern.findFirstIn(_).nonEmpty)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no hand-written Arrow value setter in src/main") {
    val found = hits(Seq("src/main"), "setSafe" + "(")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("Spark's ArrowWriter is created only in proto/ArrowInterchange.scala") {
    val codec = "src/main/scala/graft/proto/ArrowInterchange.scala"
    val found = outside(codec)(hits(Seq("src/main"), "ArrowWriter" + ".create("))
    assert(found.isEmpty, found.mkString("\n"))
    assert(hits(Seq(codec), "ArrowWriter" + ".create(").nonEmpty)
  }

  test("no driver-collecting Arrow directory writer in src") {
    val found = hits(Seq("src/main", "src/test"), "writeIpc" + "Dir")
    assert(found.isEmpty, found.mkString("\n"))
  }
}
