package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source-scan helper for the specs that guard code-level rules. */
object SourceScan {

  /** (path relative to `src/main/scala`, line) for every non-comment
    * line of every `.scala` file under it. Specs run from the repo root.
    */
  def mainCodeLines(): Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath} is missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        Files.readAllLines(f).asScala
          .filterNot { l =>
            val t = l.trim
            t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
          }
          .map(root.relativize(f).toString -> _)
      }
    finally walk.close()
  }
}
