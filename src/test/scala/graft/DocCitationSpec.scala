package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The operator docs cite only what exists: every `tools/<file>` the
  * verify skill or the README names is a file under tools/, and every
  * `runMain graft.<Name>` names an object with a `main` under src/main.
  * Deleting a script or a main that a recipe still cites fails here,
  * not in a reader's shell. The same holds inside the code: a scaladoc
  * `[[name]]` link names a declaration that exists.
  */
class DocCitationSpec extends AnyFunSuite {

  private val docs = Seq(".claude/skills/verify/SKILL.md", "README.md")
    .map(d => d -> Files.readString(Paths.get(d)))

  private def cited(re: scala.util.matching.Regex): Seq[(String, String)] =
    for ((d, text) <- docs; m <- re.findAllMatchIn(text).toSeq) yield d -> m.group(1)

  test("every cited tools/ file exists") {
    val missing = cited("""tools/([\w\-]+(?:\.\w+)*)""".r)
      .filterNot { case (_, f) => Files.isRegularFile(Paths.get("tools", f)) }
    assert(missing.isEmpty, s"docs cite missing scripts: ${missing.mkString(", ")}")
  }

  test("every cited runMain graft.<Name> is an object with a main under src/main") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(p => Files.readString(p)).toSeq
    // the object's body runs to the next top-level object (or the file end)
    def hasMain(name: String): Boolean = sources.exists { src =>
      s"""(?m)^object $name\\b""".r.findFirstMatchIn(src).exists { m =>
        val body = src.substring(m.end)
        """(?m)^object """.r.findFirstMatchIn(body).fold(body)(n => body.take(n.start))
          .contains("def main(")
      }
    }
    val missing = cited("""runMain graft\.(\w+)""".r).filterNot { case (_, n) => hasMain(n) }
    assert(missing.isEmpty, s"docs cite missing mains: ${missing.mkString(", ")}")
  }

  test("every graft scaladoc [[link]] under src/main names a declaration under src/main") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(p => p -> Files.readString(p)).toSeq
    val declared = sources.flatMap { case (_, src) =>
      """\b(?:def|val|var|object|class|trait|type)\s+(\w+)""".r
        .findAllMatchIn(src).map(_.group(1))
    }.toSet
    // unqualified, package-relative (`sources.Sidecar`) or `graft.`-
    // qualified targets; library links (`org.apache…`) are not checked
    val dangling = for {
      (p, src) <- sources
      m <- """\[\[([^\]\s]+)\]\]""".r.findAllMatchIn(src).toSeq
      target = m.group(1)
      if """^(org|java|javax|scala)\.""".r.findPrefixOf(target).isEmpty
      if !declared(target.stripSuffix("$").split("[.#]").last)
    } yield s"${p.getFileName}:${src.take(m.start).count(_ == '\n') + 1} [[$target]]"
    assert(dangling.isEmpty, s"scaladoc links to missing names: ${dangling.mkString(", ")}")
  }
}
