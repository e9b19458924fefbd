package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source guards over src/main/scala: the `file:line` of every code line
  * (comment lines skipped) that matches.
  */
object MainSources {
  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  def hits(matches: String => Boolean): Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if !isComment(line) && matches(line)
    } yield s"$f:${i + 1}"
  }
}
