package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming replays to their one feed loop: only
  * `Streams.feed` may construct a `MemoryStream` or call
  * `processAllAvailable` in `src/main`. A second copy of the harness is
  * a second place for the session settings and the chunking to drift.
  *
  * No SparkSession needed: a source check over `src/main`, comments
  * stripped.
  */
class FeedLoopAuditSpec extends AnyFunSuite {

  private val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")

  /** `src`'s lines with block and line comments blanked out, so line
    * numbers survive. */
  private def codeLines(src: String): Seq[String] =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(src, _.matched.filter(_ == '\n'))
      .split("\n", -1).toSeq.map(_.replaceAll("//.*", ""))

  /** The line indices of `Streams.feed`'s body in `lines`: from its
    * `def` to the next member at its indentation (empty if absent). */
  private def feedBody(lines: Seq[String]): Range = {
    val loop = lines.indexWhere(_.matches("  private\\[graft\\] def feed\\[.*"))
    if (loop < 0) 0 until 0
    else (loop + 1) until lines.indexWhere(l => l.startsWith("  ") &&
      !l.startsWith("   ") && l.trim.nonEmpty && l.trim != "}", loop + 1)
  }

  private def read(p: java.nio.file.Path): Seq[String] =
    codeLines(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))

  private def isSite(line: String): Boolean =
    line.contains("MemoryStream[") || line.contains("processAllAvailable")

  test("only the feed loop constructs a MemoryStream or calls processAllAvailable") {
    val walk = java.nio.file.Files.walk(srcRoot)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val sites = files.flatMap { p =>
      val lines = read(p)
      val loop = feedBody(lines)
      lines.zipWithIndex.collect {
        case (l, i) if isSite(l) && !loop.contains(i) =>
          s"${srcRoot.relativize(p)}:${i + 1}: ${l.trim}"
      }
    }
    assert(sites.isEmpty, s"MemoryStream/processAllAvailable outside Streams.feed " +
      s"(${sites.size} sites):\n${sites.mkString("\n")}")
  }

  test("the feed loop itself holds both calls (the audit's parser has not drifted)") {
    val lines = read(srcRoot.resolve("streaming/Streams.scala"))
    val body = feedBody(lines).map(lines)
    assert(body.nonEmpty, "Streams.feed not found")
    assert(body.exists(_.contains("MemoryStream[")) &&
      body.exists(_.contains("processAllAvailable")))
  }
}
