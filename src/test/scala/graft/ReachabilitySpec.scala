package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Lint: every src/main file is reachable from an entry point, so code that
  * only tests call cannot sit in src/main.
  *
  * The walk is file-level over src/main text with comments stripped and
  * string literals kept (a DSv2 format name or a `spark.sql.extensions`
  * class name in a string is a reference). File A reaches file B when A
  * names, as a whole word, a top-level class, object or trait that B
  * defines. The roots are every file with a `def main(` plus
  * [[ReachabilitySpec.publicApi]]: public API that no main happens to call.
  * Because it follows references from the roots, files that only name each
  * other are still reported.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val srcRoot = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def sources: Map[String, String] = {
    val walk = Files.walk(srcRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => srcRoot.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  private val topLevelDef = """\b(?:class|object|trait)\s+([A-Za-z_]\w*)""".r

  test("every src/main file is reachable from a main or an allowlisted public-API file") {
    val files = sources.map { case (f, text) => f -> ReachabilitySpec.lex(text) }
    assert(files.nonEmpty, s"no sources found under $srcRoot")

    val defines: Map[String, Set[String]] = files.map { case (f, (_, skeleton)) =>
      val depth = skeleton.scanLeft(0) {
        case (d, '{') => d + 1
        case (d, '}') => d - 1
        case (d, _) => d
      }
      f -> topLevelDef.findAllMatchIn(skeleton).filter(m => depth(m.start) == 0)
        .map(_.group(1)).toSet
    }
    val words: Map[String, Set[String]] = files.map { case (f, (code, _)) =>
      f -> code.split("\\W+").toSet
    }
    def refs(f: String): Iterable[String] =
      defines.collect { case (g, names) if g != f && names.exists(words(f)) => g }

    val missing = ReachabilitySpec.publicApi.filterNot(files.contains)
    assert(missing.isEmpty, s"allowlisted files not found: ${missing.mkString(", ")}")
    val mains = files.collect { case (f, (_, skeleton)) if skeleton.contains("def main(") => f }
    val reached = collection.mutable.Set.empty[String]
    var frontier = (mains ++ ReachabilitySpec.publicApi).toList
    while (frontier.nonEmpty) {
      val next = frontier.filterNot(reached)
      reached ++= next
      frontier = next.flatMap(refs).distinct
    }
    val unreached = files.keySet.diff(reached).toSeq.sorted
    assert(unreached.isEmpty,
      s"${unreached.size} src/main files no main or public-API file reaches: " +
        unreached.mkString(", ") + ". Delete them, or call them from a production " +
        "path; add a file to ReachabilitySpec.publicApi only if it is public API.")
  }
}

object ReachabilitySpec {

  /** Public-API files that no main reaches, relative to src/main/scala. */
  val publicApi: Seq[String] = Seq(
    "graft/pipeline/AssertionSinks.scala",
    "graft/pipeline/Compaction.scala",
    "graft/pipeline/Connectors.scala",
    "graft/pipeline/EarlyWindowOps.scala",
    "graft/pipeline/TransactionalSinks.scala",
    "graft/pipeline/XaShapedSink.scala")

  /** Scala source → (code, skeleton), both the length of `s` with newlines
    * kept. `code` blanks comments; `skeleton` also blanks the contents of
    * string and character literals, except the code inside `${...}`
    * interpolations, so its braces balance.
    */
  def lex(s: String): (String, String) = {
    val code = new StringBuilder(s.length)
    val skel = new StringBuilder(s.length)
    var i = 0
    def at(t: String): Boolean = s.startsWith(t, i)
    def put(literal: Boolean): Unit = {
      val c = s(i)
      code += c
      skel += (if (literal && c != '\n') ' ' else c)
      i += 1
    }
    def blank(): Unit = {
      val c = if (s(i) == '\n') '\n' else ' '
      code += c
      skel += c
      i += 1
    }
    def blockComment(): Unit = {
      var depth = 0
      while (i < s.length && (depth > 0 || at("/*"))) {
        if (at("/*")) { depth += 1; blank(); blank() }
        else if (at("*/")) { depth -= 1; blank(); blank() }
        else blank()
      }
    }
    def charLiteral(): Unit = {
      val end =
        if (i + 1 < s.length && s(i + 1) == '\\') s.indexOf('\'', i + 3)
        else if (i + 2 < s.length && s(i + 2) == '\'') i + 2
        else i
      if (end <= i) put(literal = false)
      else while (i <= end) put(literal = true)
    }
    def stringLiteral(interpolated: Boolean): Unit = {
      val triple = at("\"\"\"")
      if (triple) { put(true); put(true); put(true) } else put(true)
      var open = true
      while (i < s.length && open) {
        if (triple && at("\"\"\"")) {
          while (at("\"\"\"\"")) put(true) // the last three quotes close it
          put(true); put(true); put(true)
          open = false
        } else if (!triple && s(i) == '"') { put(true); open = false }
        else if (!triple && s(i) == '\\' && i + 1 < s.length) { put(true); put(true) }
        else if (interpolated && at("$$")) { put(true); put(true) }
        else if (interpolated && at("${")) {
          put(false); put(false)
          codeUntilClose(interpolation = true)
          if (i < s.length) put(false)
        } else put(true)
      }
    }
    def codeUntilClose(interpolation: Boolean): Unit = {
      var depth = 0
      var done = false
      while (i < s.length && !done) {
        val c = s(i)
        if (at("//")) while (i < s.length && s(i) != '\n') blank()
        else if (at("/*")) blockComment()
        else if (c == '"')
          stringLiteral(i > 0 && (Character.isLetterOrDigit(s(i - 1)) || s(i - 1) == '_'))
        else if (c == '\'') charLiteral()
        else if (interpolation && c == '}' && depth == 0) done = true
        else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          put(literal = false)
        }
      }
    }
    codeUntilClose(interpolation = false)
    (code.toString, skel.toString)
  }
}
