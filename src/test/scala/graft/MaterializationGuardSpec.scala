package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** graft has one materialization policy ([[Materialization]]): no main
  * source outside the helper's files checkpoints, caches, persists or
  * unpersists a frame, or clears the cache, by itself. */
class MaterializationGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val helperFiles = Set(
    root.resolve("graft/Materialization.scala"),
    root.resolve("org/apache/spark/sql/graftbridge/PersistedLeaf.scala"))
  // word-bounded, so paren-less `df.cache` and `.persist (level)` are
  // caught as well as the usual call syntax
  private val forbidden =
    """\.(cache|persist|unpersist|checkpoint|localCheckpoint)\b|\b(localCheckpoint|clearCache)\b""".r

  test("materialization calls live only in the helper's files") {
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(helperFiles.subsetOf(sources.toSet), s"helper files not under $root")
    val hits = for {
      p <- sources if !helperFiles(p)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      call <- forbidden.findAllIn(line)
    } yield s"$p:${i + 1}: $call"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
