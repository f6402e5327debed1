package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The source walk the source-scan specs share: `.scala` files under a
  * root, read with their comments blanked. */
object SourceFiles {

  private val Identifier = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** (path, text with comments blanked) of every `.scala` file under
    * `root`, sorted by path; with `strings = false`, the contents of
    * string and character literals are blanked too, except a literal that
    * is one identifier (a method named for a reflective call). */
  def scala(root: String, strings: Boolean = true): Seq[(String, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.toString -> strip(Files.readString(p), strings)).sortBy(_._1)
    finally walk.close()
  }

  /** `src` with every `//` and (nested) `/* */` comment replaced by
    * spaces, and string and character literal contents too unless
    * `strings`. Newlines stay, so line numbers hold; `$name` and `${…}` in
    * an interpolated string are code. */
  def strip(src: String, strings: Boolean): String = {
    val out = src.toCharArray
    val n = src.length
    def blank(from: Int, until: Int): Unit =
      for (k <- from until until if out(k) != '\n') out(k) = ' '
    def lineComment(i: Int): Int = {
      val e = src.indexOf('\n', i)
      val end = if (e < 0) n else e
      blank(i, end)
      end
    }
    def blockComment(i0: Int): Int = {
      var i = i0 + 2
      var depth = 1
      while (i < n && depth > 0) {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else i += 1
      }
      blank(i0, i)
      i
    }
    def literal(from: Int, until: Int): Unit =
      if (!strings && !Identifier.matches(src.substring(from, until))) blank(from, until)
    def charLit(i: Int): Int =
      if (i + 1 < n && src(i + 1) == '\\') {
        val e = src.indexOf('\'', i + 3)
        if (e < 0) n else { literal(i + 1, e); e + 1 }
      } else if (i + 2 < n && src(i + 2) == '\'') { literal(i + 1, i + 2); i + 3 }
      else i + 1
    // i is just past the opening quote(s); returns the index past the close
    def string(i0: Int, triple: Boolean, interpolated: Boolean): Int = {
      var i = i0
      var from = i0 // start of the literal text not yet blanked
      while (i < n) {
        if (triple && src.startsWith("\"\"\"", i)) {
          var j = i + 3
          while (j < n && src(j) == '"') j += 1
          literal(from, j - 3)
          return j
        } else if (!triple && (src(i) == '"' || src(i) == '\n')) {
          literal(from, i)
          return i + 1
        } else if (!triple && src(i) == '\\') i += 2
        else if (interpolated && src.startsWith("$$", i)) i += 2
        else if (interpolated && src.startsWith("${", i)) {
          literal(from, i)
          i = code(i + 2, nested = true) + 1
          from = i
        } else if (interpolated && src(i) == '$' && i + 1 < n &&
            Character.isJavaIdentifierStart(src(i + 1))) {
          literal(from, i)
          i += 1
          while (i < n && Character.isJavaIdentifierPart(src(i)) && src(i) != '$') i += 1
          from = i
        } else i += 1
      }
      literal(from, i)
      i
    }
    // nested: stop at the `}` that closes an interpolation's `${`
    def code(i0: Int, nested: Boolean): Int = {
      var i = i0
      var depth = 0
      while (i < n) {
        val c = src(i)
        if (src.startsWith("//", i)) i = lineComment(i)
        else if (src.startsWith("/*", i)) i = blockComment(i)
        else if (c == '"') {
          val interpolated = i > 0 && Character.isLetterOrDigit(src(i - 1))
          i = if (src.startsWith("\"\"\"", i)) string(i + 3, triple = true, interpolated)
            else string(i + 1, triple = false, interpolated)
        } else if (c == '\'') i = charLit(i)
        else if (c == '{') { depth += 1; i += 1 }
        else if (c == '}') {
          if (nested && depth == 0) return i
          depth -= 1; i += 1
        } else i += 1
      }
      i
    }
    code(0, nested = false)
    new String(out)
  }
}
