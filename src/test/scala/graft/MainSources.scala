package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every main Scala file with its comments blanked — the input of the
  * source lints. A comment becomes its newlines (or one space), so line
  * numbers in the blanked text match the file. */
object MainSources {
  lazy val all: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
    finally s.close()
  }

  def stripComments(src: String): String =
    "(?s)/\\*.*?\\*/|(?<!:)//[^\n]*".r
      .replaceAllIn(src, m => m.matched.filter(_ == '\n') match {
        case "" => " "
        case newlines => newlines
      })
}
