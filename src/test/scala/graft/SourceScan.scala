package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Line scan of the source tree, for specs that pin the one file a
  * construct may appear in or that every def has a caller. Paths are
  * relative to the project root, where the spec JVM runs. */
object SourceScan {
  /** Every `.scala` file under `roots`. */
  def files(roots: String*): Seq[Path] = roots.flatMap { root =>
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** `text` with every `//` and (nested) `/* */` comment removed. String
    * and character literals stay whole, so the `//` of a URL literal is
    * not a comment; a block comment keeps its newlines, so line numbers
    * hold. */
  def stripComments(text: String): String = {
    val out = new java.lang.StringBuilder(text.length)
    val n = text.length
    var i = 0
    def keepTo(end: Int): Unit = { out.append(text, i, end); i = end }
    while (i < n) {
      val c = text.charAt(i)
      if (text.startsWith("\"\"\"", i)) {
        val close = text.indexOf("\"\"\"", i + 3)
        var e = if (close < 0) n else close + 3
        while (e < n && text.charAt(e) == '"') e += 1
        keepTo(e)
      } else if (c == '"') {
        var e = i + 1
        while (e < n && text.charAt(e) != '"' && text.charAt(e) != '\n')
          e += (if (text.charAt(e) == '\\') 2 else 1)
        keepTo(math.min(e + 1, n))
      } else if (c == '\'') {
        val window = text.subSequence(i, math.min(i + 8, n))
        keepTo(CharLiteral.findPrefixMatchOf(window).fold(i + 1)(i + _.end))
      } else if (text.startsWith("//", i)) {
        val eol = text.indexOf('\n', i)
        i = if (eol < 0) n else eol
      } else if (text.startsWith("/*", i)) {
        var depth = 0
        do {
          if (text.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (text.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (text.charAt(i) == '\n') out.append('\n'); i += 1 }
        } while (depth > 0 && i < n)
        out.append(' ')
      } else keepTo(i + 1)
    }
    out.toString
  }

  private val CharLiteral = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
  private val Identifier = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Modifier =
    """override|final|implicit|(?:private|protected)(?:\[\w+\])?"""
  private val Def =
    ("""((?:(?:""" + Modifier + """)\s+)*)\bdef\s+(""" + Identifier.regex + ")").r

  /** `name -> path:line` of every non-`override` `def` under `defRoots`
    * whose name occurs nowhere else under `defRoots` and `refRoots`,
    * comments stripped. The match is BY NAME, not by symbol: a def is
    * counted as called when any identifier anywhere in those trees
    * shares its name. */
  def defsWithoutCaller(defRoots: Seq[String],
                        refRoots: Seq[String]): Map[String, String] = {
    def stripped(roots: Seq[String]) =
      files(roots: _*).map(p => p -> stripComments(Files.readString(p)))
    val defFiles = stripped(defRoots)
    val uses = (defFiles ++ stripped(refRoots))
      .flatMap { case (_, t) => Identifier.findAllIn(t) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    defFiles.flatMap { case (p, t) =>
      Def.findAllMatchIn(t).collect {
        case m if !m.group(1).contains("override") && uses(m.group(2)) == 1 =>
          val line = t.substring(0, m.start(2)).count(_ == '\n') + 1
          m.group(2) -> s"$p:$line"
      }
    }.toMap
  }

  /** `path:line` of every line of `files` that `pattern` matches. */
  def sites(files: Seq[Path], pattern: String): Seq[String] = {
    val re = pattern.r
    files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}"
      }
    }
  }
}
