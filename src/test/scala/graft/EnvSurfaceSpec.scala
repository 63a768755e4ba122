package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Lint: the engine's configuration surface is the set of environment
  * variables and system properties src/main reads, and it is pinned here.
  * A removed switch cannot come back silently, and a new one needs a
  * deliberate edit to [[EnvSurfaceSpec.allowed]]. Every read must name its
  * key as a string literal at the call site, so the scan below sees it.
  */
class EnvSurfaceSpec extends AnyFunSuite {

  private val read = """(sys\.env|sys\.props|System\.getenv|System\.getProperty)""".r
  private val literalRead =
    """(sys\.env|sys\.props|System\.getenv|System\.getProperty)(?:\s*\.\s*(?:get|getOrElse|contains|apply))?\s*\(\s*"([^"]+)"""".r

  private def sources: Seq[Path] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def kind(api: String): String =
    if (api == "sys.env" || api == "System.getenv") "env" else "prop"

  test("every env/property read in src/main names an allowlisted literal key") {
    val files = sources
    assert(files.nonEmpty, "no sources found under src/main")
    val keys = Set.newBuilder[String]
    val nonLiteral = Seq.newBuilder[String]
    files.foreach { f =>
      val text = Files.readString(f)
      val literal = literalRead.findAllMatchIn(text).toSeq
      literal.foreach(m => keys += s"${kind(m.group(1))}:${m.group(2)}")
      val literalStarts = literal.map(_.start).toSet
      read.findAllMatchIn(text).filterNot(m => literalStarts(m.start)).foreach { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        nonLiteral += s"${root(f)}:$line"
      }
    }
    val found = keys.result()
    assert(nonLiteral.result().isEmpty,
      s"reads without a literal key: ${nonLiteral.result().mkString(", ")}")
    val added = found -- EnvSurfaceSpec.allowed
    val gone = EnvSurfaceSpec.allowed -- found
    assert(added.isEmpty && gone.isEmpty,
      s"configuration surface changed — new keys: ${added.toSeq.sorted.mkString(", ")}; " +
        s"keys no longer read: ${gone.toSeq.sorted.mkString(", ")}. " +
        "Edit EnvSurfaceSpec.allowed only if the change is deliberate.")
  }

  test("SPARK_GRAFT_CPUS is read only by the session factory") {
    val readers = sources.filter(f => Files.readString(f).contains("\"SPARK_GRAFT_CPUS\""))
      .map(root)
    assert(readers == Seq("src/main/scala/graft/GraftSession.scala"))
  }

  private def root(f: Path): String = Paths.get(sys.props("user.dir")).relativize(f).toString
}

object EnvSurfaceSpec {

  /** `env:` = environment variable, `prop:` = JVM system property. */
  val allowed: Set[String] = Set(
    // session bootstrap
    "env:SPARK_GRAFT_CPUS",
    "env:SPARK_GRAFT_REPLAY_CHUNKS",
    "env:SPARK_GRAFT_ROCKSDB",
    "env:SPARK_GRAFT_SF_DIR",
    // CLI and control server
    "env:GRAFT_CONTROL_ADDR_FILE",
    "env:GRAFT_MASTER",
    "env:SPARK_HOME",
    "prop:graft.control.addr.file",
    "prop:graft.control.deadline.ms",
    "prop:java.io.tmpdir",
    "prop:spark.master",
    "prop:user.name",
    // Bench
    "env:SPARK_GRAFT_BENCH_FILTER",
    "env:SPARK_GRAFT_BENCH_ORDER",
    "env:SPARK_GRAFT_BENCH_OUT",
    "env:SPARK_GRAFT_NO_WARM_PASS",
    // rate and latency rigs
    "env:SPARK_GRAFT_ANN_INDEX",
    "env:SPARK_GRAFT_ANN_INDEX_DIR",
    "env:SPARK_GRAFT_CONT_MODES",
    "env:SPARK_GRAFT_CONT_PARTS",
    "env:SPARK_GRAFT_CONT_SHAPES",
    "env:SPARK_GRAFT_LATENCY_RATE",
    "env:SPARK_GRAFT_MAXRATE_ONLY",
    "env:SPARK_GRAFT_MAXRATE_PARTS",
    "env:SPARK_GRAFT_MAXRATE_PRIOR",
    "env:SPARK_GRAFT_MAXRATE_START",
    "env:SPARK_GRAFT_SCALETREND_PRIOR")
}
