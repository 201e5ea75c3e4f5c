package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Small state has one protocol, in one module: outside
  * `sources/Sidecar.scala`, no file under `sources/` or `streaming/`, and
  * not `CacheLife.scala`, renames, creates a file exclusively or reaches
  * for `java.nio.file`. `LocalFs.scala` implements the `file:` FileSystem
  * itself on `java.nio`, so it alone may import it.
  */
class SmallFileProtocolSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")

  private val scanned: Seq[Path] =
    (Seq("sources", "streaming").flatMap(d => Files.list(main.resolve(d)).iterator.asScala) :+
      main.resolve("CacheLife.scala")).filter(_.toString.endsWith(".scala")).sorted

  private val rules = Seq(
    "rename" -> """\.rename\(""".r,
    "exclusive create" -> """\.create\([^)]*,\s*false\)""".r,
    "java.nio.file" -> """java\.nio\.file""".r)

  private def hits(p: Path): Seq[(String, Int)] =
    for {
      (line, i) <- Files.readAllLines(p).asScala.toSeq.zipWithIndex
      (what, re) <- rules if re.findFirstIn(line).isDefined
    } yield what -> (i + 1)

  private def allowed(file: String, what: String): Boolean =
    file == "Sidecar.scala" || (file == "LocalFs.scala" && what == "java.nio.file")

  test("renames, exclusive creates and java.nio.file stay inside Sidecar") {
    val stray = for {
      p <- scanned
      (what, line) <- hits(p) if !allowed(p.getFileName.toString, what)
    } yield s"${p.getFileName}:$line $what"
    assert(stray.isEmpty,
      s"write small files through sources.Sidecar instead: ${stray.mkString(", ")}")
  }

  test("the rules bite: Sidecar renames and creates, LocalFs uses java.nio.file") {
    def found(file: String) = hits(main.resolve("sources").resolve(file)).map(_._1).toSet
    assert(found("Sidecar.scala") === Set("rename", "exclusive create"))
    assert(found("LocalFs.scala") === Set("java.nio.file"))
  }
}
