package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the build-once layout copies to their one owner,
  * `Layout.derived`: outside `ops/Layout.scala`, no file in `src/main`
  * names a copy's path (`tmpPath`), probes or writes a completion
  * marker (`markerExists`, `touchMarker`, a `_SUCCESS` test) or sweeps
  * stale generations (`sweepStaleFor`). A second place for any of
  * them is a second readiness policy to drift.
  *
  * No SparkSession needed: a source check over `src/main`, comments
  * stripped.
  */
class LayoutAuditSpec extends AnyFunSuite {

  private val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
  private val owner = srcRoot.resolve("ops/Layout.scala")

  /** `src`'s lines with block and line comments blanked out, so line
    * numbers survive. */
  private def codeLines(src: String): Seq[String] =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(src, _.matched.filter(_ == '\n'))
      .split("\n", -1).toSeq.map(_.replaceAll("//.*", ""))

  private val sitePattern =
    "\\b(markerExists|touchMarker|sweepStaleFor|tmpPath)\\b|_SUCCESS".r

  private def read(p: java.nio.file.Path): Seq[String] =
    codeLines(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))

  test("only Layout decides whether a layout copy is ready") {
    val walk = java.nio.file.Files.walk(srcRoot)
    val files = try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != owner).toList
      finally walk.close()
    val sites = files.flatMap { p =>
      read(p).zipWithIndex.collect {
        case (l, i) if sitePattern.findFirstIn(l).isDefined =>
          s"${srcRoot.relativize(p)}:${i + 1}: ${l.trim}"
      }
    }
    assert(sites.isEmpty, s"layout-copy policy outside Layout.derived " +
      s"(${sites.size} sites):\n${sites.mkString("\n")}")
  }

  test("the owner itself holds the marker and the sweep (the audit's parser has not drifted)") {
    val lines = read(owner)
    assert(lines.exists(_.contains("def derived(")), "Layout.derived not found")
    assert(lines.exists(_.contains("sweepStaleFor(kind, dir)")))
    assert(lines.exists(_.contains("lfs.touch(marker)")))
  }
}
