package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Resumable (VERDICT r13 item 6): results persist per query as they
  * complete, and `--resume` skips any query whose output already has a
  * `_SUCCESS` marker from a previous invocation — so a run killed by a
  * harness timeout continues where it stopped instead of needing a manual
  * query split (the CORRECTNESS_sf1_r13 method). Plan-drift records are
  * kept per query as flat `plan_drift_<q>.txt` files and aggregated at the
  * end of every attempt, so drift seen by an earlier attempt survives the
  * resume.
  * `scripts/verify_resume.sh` wraps the retry loop into one command.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [prefixes] [--resume]
  * (`prefixes` = comma-separated query-name prefixes, local iteration only)
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val resume = args.contains("--resume")
    val positional = args.filterNot(_ == "--resume")
    val (sfDir, outDir) = (positional(0), positional(1))
    val only: Option[Seq[String]] =
      if (positional.length > 2) Some(positional(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // drift records are FLAT FILES (plan_drift_<q>.txt), never a directory:
    // the differential checkers discover query outputs by listing outDir's
    // subdirectories, and a bookkeeping dir would read as a broken query
    def driftFile(name: String) =
      Paths.get(outDir, s"plan_drift_$name.txt")
    // plan-freshness gate (VERDICT r10 item 8): compare each headline
    // query's pre-execution plan shape against PLANS.md's fingerprint table
    // — a drifted plan is a silent perf regression until the bench notices;
    // this turns it into a diff at correctness time. Drift WARNS (and is
    // recorded in plan_drift.txt); intentional changes regenerate PLANS.md.
    val knownFingerprints: Map[String, String] =
      try Plans.parseFingerprints(Files.readString(Paths.get("PLANS.md")))
      catch { case _: Throwable => Map.empty }
    var ran = 0
    var skipped = 0
    var failed = 0
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      // a completed query's parquet dir carries Hadoop's _SUCCESS marker;
      // a run that died mid-write leaves no marker and is redone
      if (resume && Files.exists(Paths.get(outDir, name, "_SUCCESS"))) {
        skipped += 1
      } else try {
        val df = fn(spark, sfDir)
        knownFingerprints.get(name).foreach { expected =>
          val got = Plans.fingerprint(df)
          if (got != expected) {
            System.err.println(
              s"[verify] PLAN-DRIFT $name: $expected -> $got (regenerate PLANS.md or fix the plan)")
            Files.writeString(driftFile(name), s"$name $expected -> $got\n")
          } else // clear a stale drift record once the plan matches again
            Files.deleteIfExists(driftFile(name))
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        ran += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += 1
        // delete any PREVIOUS run's output for this query: a stale parquet
        // would make the differential check silently validate old results —
        // and the stale drift record with it, or plan_drift.txt would report
        // drift for a query that produced no output this run
        pipeline.TempFiles.deleteTree(s"$outDir/$name")
        Files.deleteIfExists(driftFile(name))
      }
    }
    // aggregate per-query drift files (this attempt's AND earlier attempts')
    val drifted = {
      val files = new java.io.File(outDir).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("plan_drift_"))
        .map(_.toString).sorted
      files.flatMap(f => scala.util.Using.resource(scala.io.Source.fromFile(f))(
        _.getLines().toSeq)).toSeq
    }
    Files.writeString(Paths.get(s"$outDir/plan_drift.txt"),
      if (drifted.isEmpty) "none\n" else drifted.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    // the completion marker verify_resume.sh greps for: only printed when
    // the registry sweep finished (however many attempts it took)
    System.err.println(
      s"[verify] DONE ran=$ran skipped=$skipped failed=$failed out=$outDir")
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full oracle map as a JSON object (shared with OracleLintSpec). */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
    .mkString("{", ",", "}")
}
