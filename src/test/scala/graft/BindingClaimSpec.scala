package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the facade's "`xNN`'s oracle-checked binding" claims to the
  * registered query bodies: a facade scaladoc that names a query as its
  * oracle-checked binding is only true while that query's body calls the
  * method — otherwise the oracle certifies a copy users never call.
  *
  * No SparkSession needed: these are source checks over `Graft.scala`,
  * the registry and the query sources.
  */
class BindingClaimSpec extends AnyFunSuite {

  private val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  private lazy val sources: Seq[String] = {
    val walk = java.nio.file.Files.walk(srcRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map(read).toList
    finally walk.close()
  }

  /** (method name, scaladoc text with the `*` margins folded to spaces)
    * for every scaladoc directly above a `def` in `Graft.scala`. */
  private lazy val graftDocs: Seq[(String, String)] = {
    val src = read(srcRoot.resolve("Graft.scala"))
    val defAfter = "\\A\\s*(?:private\\[graft\\]\\s+)?def\\s+(\\w+)".r
    src.split("/\\*\\*").toSeq.drop(1).flatMap { chunk =>
      val end = chunk.indexOf("*/")
      if (end < 0) None
      else defAfter.findFirstMatchIn(chunk.substring(end + 2)).map { m =>
        m.group(1) -> chunk.substring(0, end).replaceAll("\\n\\s*\\*", " ")
          .replaceAll("\\s+", " ")
      }
    }
  }

  private val claim = "\\b([a-z]{1,2}\\d{2,3})'s oracle-checked binding".r

  /** Every definition body of `method`: from its `def` to the next
    * member at the same indentation. */
  private def bodiesOf(method: String): Seq[String] = sources.flatMap { src =>
    val member = "\\n  (?:def |private|val |lazy |/\\*\\*|\\})".r
    s"(?m)^  (?:private\\[graft\\] )?def $method\\b".r.findAllMatchIn(src).map { m =>
      val end = member.findFirstMatchIn(src.substring(m.end))
        .map(_.start + m.end).getOrElse(src.length)
      src.substring(m.start, end)
    }
  }

  /** Query `id`'s registered method body plus the bodies of the methods
    * it calls (one hop: t14 and s06 bind through one shared helper). */
  private def queryBody(id: String): String = {
    val key = SparkEntry.queries.keys.find(_.startsWith(id + "_"))
      .getOrElse(fail(s"no registered query with prefix $id"))
    val entry = read(srcRoot.resolve("SparkEntry.scala"))
    val method = ("\"" + java.util.regex.Pattern.quote(key) +
        "\"\\s*->\\s*\\(\\w+\\.(\\w+) _\\)").r
      .findFirstMatchIn(entry).map(_.group(1))
      .getOrElse(fail(s"$key is not registered as (Object.method _)"))
    val body = bodiesOf(method) match {
      case Seq(one) => one
      case found => fail(s"expected one definition of $method, found ${found.size}")
    }
    val callees = "\\b(\\w+)\\(".r.findAllMatchIn(body).map(_.group(1))
      .toSeq.distinct.filter(_ != method)
    (body +: callees.flatMap(bodiesOf)).mkString("\n")
  }

  test("every oracle-checked claim in a Graft scaladoc uses the parseable form") {
    val loose = graftDocs.collect {
      case (name, doc) if doc.contains("oracle-checked") &&
          claim.findFirstIn(doc).isEmpty => name
    }
    assert(loose.isEmpty, s"scaladocs mentioning 'oracle-checked' without " +
      s"naming \"xNN's oracle-checked binding\": $loose")
  }

  test("every claimed oracle-checked binding's query body calls the method") {
    val claims = graftDocs.flatMap { case (name, doc) =>
      claim.findAllMatchIn(doc).map(m => m.group(1) -> name)
    }
    assert(claims.nonEmpty, "no binding claims parsed — the parser drifted")
    val broken = claims.filterNot { case (id, name) =>
      s"\\b$name\\(".r.findFirstIn(queryBody(id)).isDefined
    }
    assert(broken.isEmpty, s"(query, method) claims whose query body never " +
      s"calls the method: $broken")
  }
}
