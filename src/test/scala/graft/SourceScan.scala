package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Line scan of the source tree, for specs that pin the one file a
  * construct may appear in. Paths are relative to the project root,
  * where the spec JVM runs. */
object SourceScan {
  /** Every `.scala` file under `roots`. */
  def files(roots: String*): Seq[Path] = roots.flatMap { root =>
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
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
