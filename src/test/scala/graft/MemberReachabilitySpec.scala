package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Lint: every public `def` in src/main has a caller, so a member that
  * nothing runs cannot sit in a reached file (ReachabilitySpec's check is
  * per file; this one is per member).
  *
  * The check is word-level over code with comments stripped and string
  * literals kept ([[ReachabilitySpec.lex]]). A public `def` is dead when its
  * name appears nowhere else: not in src/main outside the `def` sites of
  * that name, not in perfbench/scala/src and not in src/test. `override`,
  * `private` and `protected` members are skipped, as are `main`, `apply`
  * and `unapply`, which callers reach without naming them. A member that
  * implements an interface method must say `override`.
  */
class MemberReachabilitySpec extends AnyFunSuite {

  private val repo = Paths.get(sys.props("user.dir"))

  /** Relative path → (code, skeleton) of every `.scala` file under `dir`. */
  private def lexed(dir: Path): Map[String, (String, String)] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => repo.relativize(p).toString -> ReachabilitySpec.lex(Files.readString(p)))
      .toMap
    finally walk.close()
  }

  private val defSite = """\bdef\s+([A-Za-z_]\w*)""".r
  private val hidden = Set("override", "private", "protected")
  private val implicitlyCalled = Set("main", "apply", "unapply")

  private def words(code: String): Iterator[String] =
    code.split("\\W+").iterator.filter(_.nonEmpty)

  test("every public def in src/main is called from src/main, perfbench or a spec") {
    val main = lexed(repo.resolve("src/main/scala"))
    assert(main.nonEmpty, "no sources found under src/main/scala")
    val elsewhere = Seq("perfbench/scala/src", "src/test/scala").map(repo.resolve)
      .flatMap(lexed).flatMap { case (_, (code, _)) => words(code) }.toSet

    val uses = main.values.flatMap { case (code, _) => words(code) }
      .toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val sites = main.values.flatMap { case (_, skeleton) =>
      defSite.findAllMatchIn(skeleton).map(_.group(1))
    }.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

    val dead = main.toSeq.flatMap { case (file, (_, skeleton)) =>
      defSite.findAllMatchIn(skeleton).flatMap { m =>
        val lineStart = skeleton.lastIndexOf('\n', m.start) + 1
        val modifiers = words(skeleton.substring(lineStart, m.start)).toSet
        val name = m.group(1)
        val public = !modifiers.exists(hidden) && !implicitlyCalled(name)
        val called = uses(name) > sites(name) || elsewhere(name)
        if (public && !called) Some(s"$file:$name") else None
      }
    }.sorted
    assert(dead.isEmpty,
      s"${dead.size} public defs nothing calls: ${dead.mkString(", ")}. Delete them; " +
        "mark a member that implements an interface method `override`.")
  }
}
