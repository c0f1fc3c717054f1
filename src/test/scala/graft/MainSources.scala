package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The Scala sources the source lints read. `all` is every main file with
  * its comments blanked; `code` is every main and perfbench file reduced
  * to its code view ([[codeView]]). Blanked text keeps its newlines, so
  * line numbers match the file. */
object MainSources {
  lazy val all: Seq[(Path, String)] =
    read("src/main/scala").map { case (p, src) => p -> stripComments(src) }

  lazy val code: Seq[(Path, String)] =
    (read("src/main/scala") ++ read("perfbench/src"))
      .map { case (p, src) => p -> codeView(src) }

  private def read(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally s.close()
  }

  /** `src` with comments blanked and everything else, string-literal
    * text included, kept as it is. The same one-pass scan as
    * [[codeView]], so a `//` inside a string literal is not a comment. */
  def stripComments(src: String): String = scan(src, keepStrings = true)

  /** `src` with comments, string-literal text and character literals
    * blanked, but the code inside interpolations (`$x`, `${…}`) kept. One
    * left-to-right scan: a `//` inside a string literal (say, SQL's
    * `// 64`) is not read as a comment. Block comments nest, as in Scala. */
  def codeView(src: String): String = scan(src, keepStrings = false)

  private def scan(src: String, keepStrings: Boolean): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(k => out += (if (src(k) == '\n') '\n' else ' '))
    // literal text: kept or blanked
    def lit(from: Int, until: Int): Unit =
      if (keepStrings) out ++= src.substring(from, until) else blank(from, until)
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'

    // code from `i`; with `inBraces`, stops at the `}` closing an
    // interpolation block and returns its index
    def code(start: Int, inBraces: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < n) {
        val c = src(i)
        if (src.startsWith("//", i)) {
          val e = src.indexOf('\n', i) match { case -1 => n; case e => e }
          blank(i, e); i = e
        } else if (src.startsWith("/*", i)) {
          var d = 1
          var j = i + 2
          while (j < n && d > 0) {
            if (src.startsWith("/*", j)) { d += 1; j += 2 }
            else if (src.startsWith("*/", j)) { d -= 1; j += 2 }
            else j += 1
          }
          blank(i, j); i = j
        } else if (c == '"') {
          i = string(i)
        } else if (c == '\'' && charLiteralEnd(i) > 0) {
          val e = charLiteralEnd(i)
          lit(i, e); i = e
        } else if (inBraces && c == '}' && depth == 0) {
          return i
        } else {
          if (inBraces && c == '{') depth += 1
          if (inBraces && c == '}') depth -= 1
          out += c; i += 1
        }
      }
      i
    }

    // `'x'`, `'\n'`, `'A'`: the index after the closing quote, else 0
    def charLiteralEnd(i: Int): Int =
      if (i + 2 < n && src(i + 1) != '\\' && src(i + 2) == '\'') i + 3
      else if (i + 3 < n && src(i + 1) == '\\') {
        val e = src.indexOf('\'', i + 3)
        if (e > 0 && e - i <= 8) e + 1 else 0
      } else 0

    // a string literal opening at `i`; returns the index after it
    def string(i: Int): Int = {
      val interpolated = i > 0 && isIdent(src(i - 1))
      val triple = src.startsWith("\"\"\"", i)
      val q = if (triple) 3 else 1
      lit(i, i + q)
      var j = i + q
      while (j < n) {
        if (triple && src.startsWith("\"\"\"", j)) {
          var e = j + 3
          while (e < n && src(e) == '"') e += 1 // `""""` closes on the last three
          lit(j, e); return e
        } else if (!triple && src(j) == '"') {
          lit(j, j + 1); return j + 1
        } else if (!triple && src(j) == '\\') {
          lit(j, math.min(j + 2, n)); j += 2
        } else if (interpolated && src(j) == '$' && j + 1 < n) {
          if (src(j + 1) == '{') {
            lit(j, j + 1); out += '{'
            val close = code(j + 2, inBraces = true)
            if (close < n) out += '}'
            j = close + 1
          } else if (src(j + 1).isLetter || src(j + 1) == '_') {
            lit(j, j + 1)
            var e = j + 1
            while (e < n && isIdent(src(e))) e += 1
            out ++= src.substring(j + 1, e); j = e
          } else { lit(j, j + 2); j += 2 } // `$$`, `$"`
        } else { lit(j, j + 1); j += 1 }
      }
      j
    }

    code(0, inBraces = false)
    out.toString
  }
}
